"""Star-schema ETL golden tests on the article fixture.

The fixture (tests/fixtures/articles.json) is 13 hand-built documents:
5 that survive cleaning in at least one mode (d1, d2, d11, d12, d13) and
8 that each trip exactly one cleaning rule (publisher sentinels d3-d6,
date sentinel d7, null citations d8, empty arrays d9-d10). Expected
values below are hand-computed from the fixture — see each assertion.

Covers SURVEY §2: P3-P9, J1-J3, A2, A3 (deterministic keys), F3, F6,
F8-F10, and quirks Q2/Q3/Q4/Q5/Q7 in both fixed and parity modes.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from scraping_etl_spark import schemas
from scraping_etl_spark.etl import star_schema as S
from scraping_etl_spark.operators import cleaning as C
from scraping_etl_spark.sources.readers import read_json_array

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "articles.json")


@pytest.fixture(scope="module")
def raw(spark):
    df = read_json_array(spark, FIXTURE, schemas.RAW_ARTICLES).cache()
    assert df.count() == 13
    return df


@pytest.fixture(scope="module")
def star(raw):
    return S.build_star(raw)


@pytest.fixture(scope="module")
def star_parity(raw):
    return S.build_star(raw, parity=True)


def test_cleaning_keeps_only_valid_docs(star):
    # d3-d10 trip sentinels; d11's countries contains an email → dropped
    # by the FIXED email filter (quirk Q5 repaired). DOIs arrive scrubbed:
    # the F8 scrub hits every top-level string column including doi, just
    # like the reference (shipped DB/Tables/author_article_map.csv rows
    # read "httpsdoiorg101109..." — dots and slashes gone).
    dois = {r.doi for r in star["clean"].select("doi").collect()}
    assert dois == {"101d1", "101d2", "101d12", "101d13"}


def test_parity_keeps_email_row(star_parity):
    # Q5 parity: the reference's array_contains(col, pattern) email filter
    # is dead code, so d11 survives the parity cleaning.
    dois = {r.doi for r in star_parity["clean"].select("doi").collect()}
    assert dois == {"101d1", "101d2", "101d11", "101d12", "101d13"}


def test_publishers_dim(star):
    rows = {(r.ISSN, r.Name, r.Quartile) for r in star["publishers"].collect()}
    assert rows == {
        ("1111-1111", "Elsevier", "Q1"),
        ("2222-2222", "IEEE", "Q2"),
        ("3333-3333", "Springer", "Q3"),
    }


def test_topics_and_dates_dims(star):
    assert {r.Topic for r in star["topics"].collect()} == {"AI", "Big Data", "Security"}
    dates = {r.PublicationDate: r for r in star["dates"].collect()}
    assert set(dates) == {"19 July 2024", "1 August 2024", "5 March 2023"}
    # F3: proper DateType derived via to_date(_, 'd MMMM yyyy')
    assert str(dates["19 July 2024"].DateValue) == "2024-07-19"
    assert str(dates["5 March 2023"].DateValue) == "2023-03-05"


def test_parity_dims_from_uncleaned_frame(star_parity):
    # Q7 parity: dates come from the raw frame → sentinel rows included.
    dates = {r.PublicationDate for r in star_parity["dates"].collect()}
    assert dates == {
        "19 July 2024", "1 August 2024", "5 March 2023", "2 May 2024",
        "Date not found",
    }


def test_keywords_dim_fixed_vs_parity(star, star_parity):
    # Fixed (Q4 repaired): distinct strings only.
    fixed = star["keywords"].collect()
    assert {r.Keyword for r in fixed} == {"graphs", "ml", "nlp", "crypto"}
    assert len(fixed) == 4
    # Parity: one row per exploded occurrence (d1:2 + d2:2 + d11:1 +
    # d12:1 + d13:1 = 7), each with its own key.
    par = star_parity["keywords"].collect()
    assert len(par) == 7
    assert len({r.KeywordID for r in par}) == 7


def test_authors_dim_dedup_and_canonicalization(star):
    # Q2 repaired + F9/F10: d12's Alice has country "USA", which
    # canonicalizes to "United States" and merges with d1/d2's identity.
    rows = {(r.FullName, r.Country, r.University) for r in star["authors"].collect()}
    assert rows == {
        ("Alice Smith", "United States", "MIT"),
        ("Bob Jones", "United Kingdom", "Oxford"),
        ("Carol White", "Switzerland", "ETH"),
        ("Dan Brown", "Germany", "KIT"),
    }
    assert star["authors"].count() == 4


def test_authors_parity_no_dedup(star_parity):
    # Q2 parity: every exploded affiliation keeps its own row. d11's
    # email affiliation is removed by the HOF filter (P9, present in the
    # reference too), so: d1:2 + d2:2 + d12:1 + d13:1 = 6.
    assert star_parity["authors"].count() == 6


def test_articles_fact(star):
    rows = {r.DOI: r for r in star["articles"].collect()}
    assert set(rows) == {"101d1", "101d2", "101d12", "101d13"}
    # F8 scrub: ':' '#' '(' ')' removed from the title, spaces kept.
    assert rows["101d12"].Title == "Cool Paper 12 v2"
    # J1: every dim key resolved (left joins found all matches).
    for r in rows.values():
        assert r.TopicID is not None and r.DateID is not None and r.ISSN


def test_author_bridge_fixed(star):
    # J2 on full identity (Q3 repaired): d1 has 2 authors, d2 has 2,
    # d12 has 1, d13 has 1 → 6 rows, 4 distinct AuthorIDs.
    bridge = star["author_article_map"].collect()
    assert len(bridge) == 6
    assert len({r.AuthorID for r in bridge}) == 4
    assert len({r.DOI for r in bridge}) == 4


def test_author_bridge_parity_fanout(star_parity):
    # Q3 parity: join on FullName only. The parity dim holds Alice Smith
    # 3x (d1, d2, d12 occurrences), so each of her 3 article rows matches
    # 3 dim rows: 3*3 + 1 (Bob) + 1 (Carol) + 1 (Dan) = 12.
    assert star_parity["author_article_map"].count() == 12


def test_keyword_bridge_fixed(star):
    # J3: d1:2 + d2:2 + d12:1 + d13:1 = 6 rows against the deduped dim.
    bridge = star["keyword_article_map"].collect()
    assert len(bridge) == 6
    assert len({r.KeywordID for r in bridge}) == 4


def test_keyword_bridge_parity_fanout(star_parity):
    # Q4 parity fan-out: dim holds ml 2x and graphs 2x, so
    # d1(graphs→2, ml→2) + d2(ml→2, nlp→1) + d11(spam→1) +
    # d12(graphs→2) + d13(crypto→1) = 11.
    assert star_parity["keyword_article_map"].count() == 11


def test_surrogate_keys_deterministic_under_repartition(raw):
    # A3 / Q1 fix: xxhash64 keys must not depend on partitioning or
    # run order (monotonically_increasing_id does — SURVEY Q1).
    a1 = S.build_authors(S.clean_documents(raw))
    a2 = S.build_authors(S.clean_documents(raw.repartition(7)))
    ids1 = {(r.AuthorID, r.FullName) for r in a1.collect()}
    ids2 = {(r.AuthorID, r.FullName) for r in a2.collect()}
    assert ids1 == ids2


def test_build_star_emits_no_future_warning(raw):
    # the country-alias lookup spells map access amap[x]: the
    # getItem(<Column>) form warns on every build and is going away
    import warnings

    with warnings.catch_warnings():
        warnings.simplefilter("error", FutureWarning)
        S.build_star(raw)


def test_mojibake_repair(spark):
    # F6: classic latin1-as-utf8 mojibake repaired; clean + non-latin1
    # strings pass through unchanged (Q6 root cause, ScienceDirect.py:150).
    mojibake = "étude déjà vue".encode("utf-8").decode("latin1")
    df = spark.createDataFrame(
        [("BjÃ¶rn W. Schuller",), (mojibake,), ("already fine",), (None,)],
        "title string",
    )
    out = [r.title for r in C.repair_mojibake(df, ["title"]).collect()]
    assert out[0] == "Björn W. Schuller"
    assert out[1] == "étude déjà vue"
    assert out[2] == "already fine"
    assert out[3] is None


def test_scrub_preserves_accents_and_quotes(spark):
    # F8 keeps À-ÿ accents, digits, whitespace, apostrophe, dash.
    df = spark.createDataFrame([("Björn's café #1 — ok (really)",)], "s string")
    out = C.scrub_string_columns(df).collect()[0].s
    assert out == "Björn's café 1  ok really"


def _write_docs(path, docs):
    with open(path, "w", encoding="utf-8") as fh:
        json.dump(docs, fh)
    return str(path)


def _rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_build_reads_one_snapshot(spark, tmp_path):
    # build_star materializes the cleaned relation eagerly: overwriting
    # the input afterwards changes none of the eight written tables,
    # while the next build over the same path sees the new file.
    with open(FIXTURE, encoding="utf-8") as fh:
        docs = json.load(fh)
    path = _write_docs(tmp_path / "in.json", docs)
    pristine = S.build_star(
        read_json_array(spark, _write_docs(tmp_path / "copy.json", docs),
                        schemas.RAW_ARTICLES)
    )
    star = S.build_star(read_json_array(spark, path, schemas.RAW_ARTICLES))

    _write_docs(path, [d for d in docs if d["doi"] == "10.1/d2"])
    out = S.materialize_star(star, str(tmp_path / "star"))
    assert len(out) == 8
    for name, table in out.items():
        cols = pristine[name].columns
        assert _rows(spark.read.parquet(table), cols) == _rows(pristine[name], cols), name

    again = S.build_star(read_json_array(spark, path, schemas.RAW_ARTICLES))
    assert {r.DOI for r in again["articles"].collect()} == {"101d2"}
    assert again["author_article_map"].count() == 2


def test_date_key_uses_all_date_parts(spark, tmp_path):
    # Two articles share the Date string but disagree on Day. The dates
    # dim holds both variants; each fact row keys its own variant, so
    # the fact keeps one row per article (a join on the Date string
    # alone would give 2 x 2 = 4 rows).
    with open(FIXTURE, encoding="utf-8") as fh:
        docs = [d for d in json.load(fh) if d["doi"] in ("10.1/d1", "10.1/d2")]
    for d, day in zip(docs, ("19", "20")):
        d.update(Date="19 July 2024", Day=day, Month="July", Year="2024")
    raw = read_json_array(
        spark, _write_docs(tmp_path / "in.json", docs), schemas.RAW_ARTICLES
    )
    star = S.build_star(raw)
    assert star["dates"].count() == 2
    facts = star["articles"].join(star["dates"], "DateID").collect()
    assert star["articles"].count() == 2
    assert {(r.DOI, r.Day) for r in facts} == {("101d1", "19"), ("101d2", "20")}
