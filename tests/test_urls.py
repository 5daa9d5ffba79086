"""URL canonicalization edge cases (operators/urls.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from scraping_etl_spark.operators.urls import canonical_url, url_dedup


def _canon(spark, url):
    df = spark.createDataFrame([(url,)], "u string")
    return df.select(canonical_url("u").alias("c")).collect()[0].c


def test_host_scheme_lowercased_path_case_preserved(spark):
    assert _canon(spark, "HTTP://Example.COM/CaseSensitive/Path") == \
        "http://example.com/CaseSensitive/Path"


def test_default_ports_stripped_only_for_matching_scheme(spark):
    assert _canon(spark, "http://a.com:80/x") == "http://a.com/x"
    assert _canon(spark, "https://a.com:443/x") == "https://a.com/x"
    # non-default port survives; 443 on http is NOT default
    assert _canon(spark, "http://a.com:443/x") == "http://a.com:443/x"
    assert _canon(spark, "https://a.com:8443/x") == "https://a.com:8443/x"


def test_fragment_dropped_slashes_collapsed_trailing_stripped(spark):
    assert _canon(spark, "https://a.com//x///y/#frag") == "https://a.com/x/y"


def test_tracking_params_removed_rest_sorted(spark):
    got = _canon(spark, "https://a.com/p?z=1&utm_source=tw&a=2&fbclid=abc&gclid=g")
    assert got == "https://a.com/p?a=2&z=1"


def test_all_params_tracking_drops_query_entirely(spark):
    assert _canon(spark, "https://a.com/p?utm_a=1&utm_b=2") == "https://a.com/p"


def test_root_url_and_no_path(spark):
    assert _canon(spark, "https://A.com/") == "https://a.com"
    assert _canon(spark, "https://A.com") == "https://a.com"


def test_schemeless_value_passes_through_trimmed_defragged(spark):
    assert _canon(spark, "  not-a-url#frag  ") == "not-a-url"


def test_null_in_null_out(spark):
    df = spark.createDataFrame([(None,)], "u string")
    assert df.select(canonical_url("u").alias("c")).collect()[0].c is None


def test_url_dedup_groups_aliases(spark):
    df = spark.createDataFrame(
        [
            (1, "HTTPS://A.com:443/x?utm_s=1"),
            (2, "https://a.com/x"),
            (3, "https://a.com/y"),
        ],
        "id long, u string",
    )
    out = {r.canonical_url: r for r in
           url_dedup(df, "u", "id").collect()}
    assert out["https://a.com/x"].n_urls == 2
    assert out["https://a.com/x"].survivor_id == 1
    assert out["https://a.com/y"].n_urls == 1


def test_canonicalizer_is_map_side_only(spark):
    df = spark.createDataFrame([(1, "https://a.com/x")], "id long, u string")
    plan = (
        df.select(canonical_url("u"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan


# ---------------------------------------------------------------------------
# domain blocklist (urls.blocklist_matches)
# ---------------------------------------------------------------------------

def _bl(spark, domains):
    return spark.createDataFrame([(d,) for d in domains], "domain string")


def _urls(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, url string")


def test_host_of_strips_userinfo_port_and_case(spark):
    from scraping_etl_spark.operators.urls import host_of

    df = _urls(spark, [
        (1, "HTTPS://User:pw@WWW.Example.COM:8443/a?b#c"),
        (2, "relative/path/no/authority"),
    ])
    got = {r.doc_id: r.h for r in df.select("doc_id", host_of("url").alias("h")).collect()}
    assert got[1] == "www.example.com"
    assert got[2] == ""


def test_suffix_chain_deepest_first_and_capped(spark):
    from pyspark.sql import functions as F
    from scraping_etl_spark.operators.urls import host_suffixes

    df = spark.range(1).select(
        host_suffixes(F.lit("a.b.c.d"), max_labels=8).alias("s8"),
        host_suffixes(F.lit("l1.l2.l3.l4.l5"), max_labels=3).alias("s3"),
        host_suffixes(F.lit(""), max_labels=8).alias("empty"),
    ).collect()[0]
    assert list(df.s8) == ["a.b.c.d", "b.c.d", "c.d", "d"]
    # cap keeps only the LAST 3 labels' suffixes (registered domains
    # are shallow; deep subdomain prefixes never match anyway)
    assert list(df.s3) == ["l3.l4.l5", "l4.l5", "l5"]
    assert list(df.empty) == []


def test_blocklist_blocks_exact_and_subdomain_only(spark):
    from scraping_etl_spark.operators.urls import blocklist_matches

    df = _urls(spark, [
        (1, "http://bad.com/x"),            # exact
        (2, "http://a.b.bad.com/y"),        # subdomain
        (3, "http://notbad.com/z"),         # suffix of the STRING, not the domain
        (4, "http://bad.com.evil.net/w"),   # blocked domain as a PREFIX label run
        (5, "http://good.org/q"),
    ])
    bl = _bl(spark, ["bad.com", "ALSO.Bad.Net "])  # normalization on the list side
    matches = blocklist_matches(df, bl)
    m = {r.doc_id: r.blocked_by for r in matches.collect()}
    assert m == {1: "bad.com", 2: "bad.com"}
    survivors = df.join(matches.select("doc_id"), "doc_id", "left_anti")
    kept = sorted(r.doc_id for r in survivors.collect())
    assert kept == [3, 4, 5]


def test_blocklist_attribution_is_shallowest_match(spark):
    from scraping_etl_spark.operators.urls import blocklist_matches

    df = _urls(spark, [(1, "http://deep.sub.bad.com/")])
    bl = _bl(spark, ["bad.com", "sub.bad.com"])
    [r] = blocklist_matches(df, bl).collect()
    assert r.blocked_by == "bad.com"


def test_blocklist_shuffle_fallback_matches_broadcast(spark, monkeypatch):
    from scraping_etl_spark import materialize as M
    from scraping_etl_spark.operators.urls import blocklist_matches

    df = _urls(spark, [(i, f"http://h{i % 5}.bad{i % 3}.com/") for i in range(60)])
    bl = _bl(spark, ["bad0.com", "bad2.com"])
    a = {(r.doc_id, r.blocked_by)
         for r in blocklist_matches(df, bl).collect()}
    monkeypatch.setattr(M, "BROADCAST_ROWS", 0)
    b = {(r.doc_id, r.blocked_by)
         for r in blocklist_matches(df, bl).collect()}
    assert a == b and len(a) == 40
