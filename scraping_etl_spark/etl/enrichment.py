"""Enrichment pipeline: journal → quartile attach (SURVEY §3.3, S5/J4).

The reference enriches one article at a time: ``SD_Upd.py:64-103``
re-scrapes SCImago per article and walks quartile years newest-first
(``:89-98``) to attach a nested ``publisher {name, ISSN, Quartile}``
struct. Two pathologies at scale: O(N) web round-trips for |distinct
journals| facts, and the Q8 quirk (the year fallback takes the first
*category* row in page order — order-dependent for multi-category
journals).

The Spark-native shape:

1. :func:`distinct_journals` — the scrape worklist collapses to one
   row per journal (``N`` web calls → ``|journals|``).
2. ``journal_quartiles`` dimension — (journal, year, quartile, issn)
   rows from one fetch pass (tests build it from fixtures; production
   wires sources/extraction.fetch_pages here).
3. :func:`attach_publisher` — backward as-of attach with a defined
   tie-break (max year, then min quartile — fixing Q8), implemented as
   a **broadcast array lookup**: the dim is pre-grouped to one row per
   journal carrying its (year, quartile, issn) entries as an array,
   broadcast-joined on journal, and the per-article selection is a
   pure expression (``filter`` + ``array_min`` over ≤ max_lookback
   entries). The fact side never shuffles — at 100 TB this is the
   whole ballgame; a generic as-of (operators/asof.py) would shuffle
   the fact on (journal, year) for no benefit when the build side fits
   in a broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Reference fallback horizon: current year plus up to 9 earlier years
#: (SD_Upd.py:89 ``for offset in range(10)``).
MAX_LOOKBACK_YEARS = 9


def distinct_journals(df: DataFrame) -> DataFrame:
    """The enrichment worklist: one row per distinct journal (turns the
    reference's per-article SCImago scrape into one scan per journal —
    SURVEY §3.3's N→|distinct| collapse)."""
    return df.select(F.trim(F.col("journal_name")).alias("journal")).distinct()


def pack_quartiles(quartiles: DataFrame) -> DataFrame:
    """Pre-group the (journal, year, quartile, issn) dimension to one
    row per journal with an entries array — the broadcastable form
    :func:`attach_publisher` consumes. ``collect_list`` order doesn't
    matter: selection sorts via ``array_min`` over a struct whose field
    order encodes the tie-break."""
    return quartiles.groupBy("journal").agg(
        F.collect_list(
            F.struct(
                F.col("year").cast("int").alias("year"),
                F.col("quartile").alias("quartile"),
                F.col("issn").alias("issn"),
            )
        ).alias("_q_entries")
    )


def attach_publisher(articles: DataFrame, packed_quartiles: DataFrame) -> DataFrame:
    """Attach the nested ``publisher`` struct (SD_Upd.py:75,87) by
    backward as-of quartile lookup with the Q8 fix: among entries with
    ``Year - MAX_LOOKBACK_YEARS <= year <= Year``, take max year,
    tie-broken by min quartile then min issn (deterministic regardless
    of source order).

    Plan: left broadcast-join on journal (zero fact shuffle), then one
    expression picks the winning entry: ``array_min`` over
    ``struct(-year, quartile, issn)`` — struct ordering gives newest
    year first, then lexicographic quartile ('Q1' < 'Q2'). Journals
    with no in-window entry get quartile NULL (the reference leaves
    ``Quartile`` absent — callers sentinel-filter either way). So does
    a year that is not an integer (the scraper's ``"Year not found"``
    sentinel): ``try_cast`` makes it NULL instead of failing the job
    under ANSI mode, and the row then fails the publisher filter."""
    y = F.col("Year").try_cast("int")
    eligible = F.filter(
        F.col("_q_entries"),
        lambda e: (e["year"] <= y) & (e["year"] >= y - MAX_LOOKBACK_YEARS),
    )
    best = F.array_min(
        F.transform(
            eligible,
            lambda e: F.struct(
                (-e["year"]).alias("neg_year"),
                e["quartile"].alias("quartile"),
                e["issn"].alias("issn"),
            ),
        )
    )
    out = (
        articles.withColumn("_jn", F.trim(F.col("journal_name")))
        .join(
            F.broadcast(packed_quartiles.withColumnRenamed("journal", "_jn")),
            "_jn",
            "left",
        )
        .withColumn("_best", best)
        .withColumn(
            "publisher",
            F.struct(
                F.col("journal_name").alias("name"),
                F.col("_best.issn").alias("ISSN"),
                F.col("_best.quartile").alias("Quartile"),
            ),
        )
        .drop("_jn", "_q_entries", "_best", "journal_name")
    )
    return out


def enrich(articles: DataFrame, quartiles: DataFrame) -> DataFrame:
    """End-to-end enrichment: pack the quartile dim, attach publisher
    structs, drop the journal column (SD_Upd.py:101) — the distributed
    twin of ``append_quartile_to_publisher_incrementally``."""
    return attach_publisher(articles, pack_quartiles(quartiles))
