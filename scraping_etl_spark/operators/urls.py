"""URL canonicalization — the web-corpus dedup key.

The reference is a web scraper whose frontier dedups VISITED urls by
exact string match (ScienceDirect.py visited-set; re-expressed at
sources/extraction.py:287). Exact match misses the aliasing every real
crawl produces — case-shifted hosts, default ports, tracking params,
fragments, duplicated slashes — so a corpus pipeline canonicalizes
before dedup (every CommonCrawl-derived dataset does this before URL-
level dedup). This module is that normalizer, as a pure JVM-side
expression chain (``regexp_replace`` / ``split`` / ``filter`` /
``array_sort`` / ``concat_ws`` — no UDFs), map-side at any scale, and
restricted to the Java∩RE2 regex subset so DuckDB oracles reproduce it
bit-for-bit (same discipline as corpus_prep.scrub_pii).

Normalizations applied (scheme://host[:port]/path?query#fragment):
- scheme and host lowercased (path case is PRESERVED — paths are
  case-sensitive);
- default ports stripped (:80 for http, :443 for https);
- fragment dropped;
- runs of slashes in the path collapsed, trailing slash dropped;
- tracking parameters removed (utm_*, fbclid, gclid, msclkid, ref),
  empty params dropped, the rest SORTED (param order never changes
  resource identity for idempotent GETs — the standard canonicalizer
  trade; callers for whom order matters skip the sort).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from scraping_etl_spark import materialize as M

#: Query parameters that never change resource identity.
TRACKING_PREFIXES = ("utm_", "fbclid=", "gclid=", "msclkid=", "ref=")


def canonical_url(url: Column | str) -> Column:
    """Canonical form of a URL column (see module docstring). Null in →
    null out; a value with no ``scheme://`` is returned trimmed and
    fragment-stripped but otherwise untouched (relative URLs are not
    guessed at)."""
    u = F.trim(F.col(url) if isinstance(url, str) else url)
    u = F.regexp_replace(u, r"#.*$", "")
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    rest = F.regexp_replace(u, r"^[A-Za-z][A-Za-z0-9+.-]*://", "")
    auth = F.lower(F.regexp_extract(rest, r"^([^/?]*)", 1))
    auth = (
        F.when(scheme == "http", F.regexp_replace(auth, r":80$", ""))
        .when(scheme == "https", F.regexp_replace(auth, r":443$", ""))
        .otherwise(auth)
    )
    path = F.regexp_extract(rest, r"^[^/?]*([^?]*)", 1)
    path = F.regexp_replace(path, r"//+", "/")
    path = F.regexp_replace(path, r"/$", "")
    query = F.regexp_extract(u, r"\?(.*)$", 1)

    def _keep(p: Column) -> Column:
        cond = p != ""
        for t in TRACKING_PREFIXES:
            cond = cond & ~p.startswith(t)
        return cond

    qstr = F.concat_ws("&", F.array_sort(F.filter(F.split(query, "&"), _keep)))
    canon = F.concat(
        scheme,
        F.lit("://"),
        auth,
        path,
        F.when(qstr != "", F.concat(F.lit("?"), qstr)).otherwise(F.lit("")),
    )
    return F.when(scheme == "", u).otherwise(canon)


def url_dedup(
    df: DataFrame, url_col: str, id_col: str, keep_cols: tuple[str, ...] = ()
) -> DataFrame:
    """URL-level dedup groups: one row per canonical URL with the
    duplicate count and the min-id survivor (the same survivor rule as
    the text near-dup path). One partial-agg shuffle on the canonical
    key — the 100 TB shape of crawl-frontier dedup."""
    return (
        df.withColumn("canonical_url", canonical_url(url_col))
        .groupBy("canonical_url", *keep_cols)
        .agg(
            F.count(F.lit(1)).alias("n_urls"),
            F.min(id_col).alias("survivor_id"),
        )
    )


# ---------------------------------------------------------------------------
# Domain blocklist screening (UT1-style)
# ---------------------------------------------------------------------------

#: Suffix-chain depth cap: a host contributes its last ``n`` label
#: suffixes as match candidates. Registered blocklist entries are
#: shallow (rarely > 5 labels); the cap bounds per-row fan-out on
#: adversarial 100-label hosts.
MAX_SUFFIX_LABELS = 8


def host_of(url: Column | str) -> Column:
    """The lowercased host of a URL: authority between ``scheme://``
    and the first ``/``, ``?`` or ``#``, with userinfo and port
    stripped. A value with no ``scheme://`` yields ``''`` (relative
    URLs have no authority — never guessed at, same contract as
    :func:`canonical_url`)."""
    u = F.trim(F.col(url) if isinstance(url, str) else url)
    auth = F.lower(
        F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1)
    )
    auth = F.regexp_replace(auth, r"^[^@]*@", "")   # userinfo
    return F.regexp_replace(auth, r":[0-9]*$", "")  # port


def host_suffixes(host: Column, max_labels: int = MAX_SUFFIX_LABELS) -> Column:
    """The domain-suffix chain of a host, deepest first:
    ``a.b.c.d → [a.b.c.d, b.c.d, c.d, d]`` — the candidate keys for
    registered-domain blocklist matching (a host is blocked iff ANY
    suffix is listed, i.e. exact match or subdomain-of). Bounded at
    the last ``max_labels`` labels; empty hosts yield ``[]``."""
    labels = F.split(host, r"\.")
    n = F.size(labels)
    start = F.greatest(F.lit(1), n - F.lit(max_labels) + 1)
    return F.when(F.length(host) == 0, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(start, n),
            lambda i: F.concat_ws(".", F.slice(labels, i, n - i + 1)),
        )
    )


def blocklist_matches(df: DataFrame, blocklist: DataFrame) -> DataFrame:
    """Match every row's URL host against a domain blocklist (exact
    host OR subdomain of a listed domain — the UT1/RefinedWeb
    adult-and-malware screen, Penedo et al. 2023 §3.1). Returns the
    MATCH relation ``(id, host, blocked_by)`` — one row per blocked
    input row, ``blocked_by`` = the shallowest (shortest) listed
    suffix for a deterministic attribution — at blocked-row
    cardinality, not corpus cardinality (callers anti-join it on the
    id).

    Plan: explode the bounded suffix chain (≤ :data:`MAX_SUFFIX_LABELS`
    rows per input), equi-join the blocklist on the suffix — broadcast under
    :data:`materialize.BROADCAST_ROWS` domains (:func:`materialize.fits`),
    un-hinted shuffle join past the cap — then one partial-agg
    ``groupBy(id)`` picks the attribution. Lowercase-trim normalization
    is applied to the blocklist side; no UDFs anywhere."""
    bl = blocklist.select(
        F.lower(F.trim(F.col("domain"))).alias("_bldom")
    ).distinct()
    bl_side = F.broadcast(bl) if M.fits(bl, M.BROADCAST_ROWS) else bl
    host = host_of("url")
    exploded = df.select(
        F.col("doc_id").alias("_id"),
        host.alias("_host"),
        F.explode(host_suffixes(host)).alias("_sfx"),
    )
    return (
        exploded.join(bl_side, exploded["_sfx"] == bl_side["_bldom"])
        .groupBy("_id")
        .agg(
            F.min("_host").alias("host"),  # functionally dependent on _id
            F.min_by("_sfx", F.length("_sfx")).alias("blocked_by"),
        )
        .select(F.col("_id").alias("doc_id"), "host", "blocked_by")
    )
