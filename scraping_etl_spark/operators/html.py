"""Corpus-scale HTML → text extraction (the WET step).

The reference scrapes per-page with a DOM parser on the driver
(ScienceDirect/ScienceDirect.py — BeautifulSoup over one fetched page
at a time; re-expressed for fixtures at sources/extraction.py). That
is the right tool at page scale and the wrong one at 100 TB: a crawl
corpus's HTML→text step (CommonCrawl's WET files, the input C4 /
RefinedWeb start from) must run as a column expression over billions
of rows, not a Python parser per document.

This module is that step as a pure JVM ``regexp_replace`` chain —
whole-stage-codegen'd, zero shuffle, no UDF — in the Java∩RE2 regex
subset (inline ``(?is)`` flags, lazy quantifiers, no lookarounds) so a
DuckDB oracle reproduces it bit-for-bit (the scrub_pii discipline).
It is deliberately a TEXT extractor, not a DOM parser: tags are
boundaries and noise, not structure. Structural extraction (tables,
attribute predicates, in-page membership S4/P10) stays in
sources/extraction.py; boilerplate REMOVAL beyond script/style/nav is
the line-level operators' job (lines.remove_common_lines — RefinedWeb
does the same split: trafilatura-style extraction, then line-frequency
chrome removal).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Containers whose CONTENT is noise, not text — dropped wholesale.
_DROP_BLOCKS = ("script", "style", "noscript", "svg", "head")

#: Tags that end a text block — their boundary becomes a newline so
#: downstream line-level operators see real lines.
_BLOCK_TAGS = (
    "p|div|li|ul|ol|h1|h2|h3|h4|h5|h6|tr|table|blockquote|article|"
    "section|header|footer|nav|pre"
)

#: The handful of entities worth decoding without an entity table —
#: ordered so ``&amp;`` unescapes LAST (never manufactures new
#: entities out of ``&amp;lt;``).
_ENTITIES = (
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&amp;", "&"),
)


def html_to_text(html: Column | str) -> Column:
    """Visible text of an HTML column: drop script/style/noscript/svg/
    head content and comments, turn block-tag boundaries into
    newlines, strip remaining tags, decode the common entities,
    collapse runs of blanks, trim. Null in → null out."""
    c = F.col(html) if isinstance(html, str) else html
    for tag in _DROP_BLOCKS:
        c = F.regexp_replace(c, f"(?is)<{tag}[^>]*>.*?</{tag}>", " ")
    c = F.regexp_replace(c, r"(?s)<!--.*?-->", " ")
    c = F.regexp_replace(c, f"(?i)</?(?:{_BLOCK_TAGS})(?:\\s[^>]*)?>", "\n")
    c = F.regexp_replace(c, r"(?i)<br\s*/?>", "\n")
    c = F.regexp_replace(c, r"(?s)<[^>]*>", " ")
    for ent, rep in _ENTITIES:
        c = F.replace(c, F.lit(ent), F.lit(rep))
    c = F.regexp_replace(c, r"[ \t\r]+", " ")
    c = F.regexp_replace(c, r" ?\n ?", "\n")
    c = F.regexp_replace(c, r"\n{2,}", "\n")
    return F.trim(F.regexp_replace(c, r"(?s)^\n+|\n+$", ""))


def html_to_text_sql(expr: str) -> str:
    """The DuckDB mirror of :func:`html_to_text` over ``expr`` —
    generated from the SAME pattern tables so the two chains cannot
    drift (oracles call this; keep in lockstep with the column
    version)."""
    c = expr
    for tag in _DROP_BLOCKS:
        c = f"regexp_replace({c}, '(?is)<{tag}[^>]*>.*?</{tag}>', ' ', 'g')"
    c = f"regexp_replace({c}, '(?s)<!--.*?-->', ' ', 'g')"
    c = (
        f"regexp_replace({c}, '(?i)</?(?:{_BLOCK_TAGS})(?:\\s[^>]*)?>', "
        f"chr(10), 'g')"
    )
    c = f"regexp_replace({c}, '(?i)<br\\s*/?>', chr(10), 'g')"
    c = f"regexp_replace({c}, '(?s)<[^>]*>', ' ', 'g')"
    for ent, rep in _ENTITIES:
        lit = rep.replace("'", "''")
        c = f"replace({c}, '{ent}', '{lit}')"
    c = f"regexp_replace({c}, '[ \\t\\r]+', ' ', 'g')"
    c = f"regexp_replace({c}, ' ?\\n ?', chr(10), 'g')"
    c = f"regexp_replace({c}, '\\n{{2,}}', chr(10), 'g')"
    c = f"regexp_replace({c}, '(?s)^\\n+|\\n+$', '', 'g')"
    return f"trim({c})"


def with_extracted_text(df: DataFrame) -> DataFrame:
    """``df`` with the extracted text appended — plus ``n_text_chars``
    and the extraction RATIO (text chars / html chars, the standard
    quick signal for link-farm / boilerplate-only pages: real articles
    extract a sizable fraction, navigation shells extract almost
    nothing). Map-side at any scale."""
    txt = html_to_text("html")
    return (
        df.withColumn("text", txt)
        .withColumn("n_text_chars", F.length("text").cast("long"))
        .withColumn(
            "extract_ratio",
            F.round(
                F.length("text")
                / F.greatest(F.length("html"), F.lit(1)),
                6,
            ),
        )
    )
