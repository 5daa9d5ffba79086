"""The two benchmark workloads.

Each workload writes its seeded inputs, runs *passes* (its fixed list
of operations, in a fixed order) and checks the outputs against DuckDB
afterwards, outside the timed region. An operation that raises is
recorded as failed and the pass goes on.

- ``warehouse_build``: the paper's pipeline, and the one that writes:
  JSON-lines -> enrich -> star schema -> parquet -> SQL INSERT files.
- ``analyst_session``: relational registry queries, then trainers and
  curation rows over a replicated near-duplicate corpus; plan
  construction, job scheduling and small shuffles.
"""

from __future__ import annotations

import glob
import importlib
import math
import os
import shutil
import time
from collections import Counter

import duckdb

from perfbench import gen

#: Dimension tables rendered as SQL INSERT files by ``warehouse_build``.
INSERT_TABLES = ("publishers", "topics", "dates", "keywords", "authors")
STAR_TABLES = (
    "publishers", "topics", "dates", "keywords", "authors",
    "articles", "author_article_map", "keyword_article_map",
)

#: ``analyst_session`` queries: relational registry rows covering TPC-H
#: joins and aggregates, grouping sets, SCD2, sessionization and an
#: event funnel.
QUERY_ROWS = (
    "revenue_by_nation", "revenue_grouping_sets", "dim_scd2", "sessionize", "event_funnel",
)

#: ``analyst_session`` trainers: (name, module, cached artifact builder),
#: as listed in ``tools/profile_trainers.py``.
TRAINERS = (
    ("bpe_vocab", "scraping_etl_spark.plans.corpus_ops", "_bpe_artifacts"),
    ("unigram_lm", "scraping_etl_spark.plans.corpus_ops", "_uni_artifacts"),
)
#: ``analyst_session`` curation rows, one per plans module measured.
CURATION_ROWS = ("doc_bm25", "doc_minhash_pairs")
PLAN_MODULES = ("curation_ops", "ml_ops")


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(p) for p in glob.glob(os.path.join(path, "**"), recursive=True)
               if os.path.isfile(p))


class Op:
    """One timed operation and its outcome."""

    def __init__(self, name: str, tables_dir: str | None = None):
        self.name = name
        self.tables_dir = tables_dir
        self.seconds = math.inf
        self.error: str | None = None
        self.result = None

    def run(self, fn):
        t0 = time.perf_counter()
        try:
            self.result = fn()
        except Exception as exc:  # noqa: BLE001 - one failing op never aborts the pass
            self.error = f"{type(exc).__name__}: {exc}"[:300]
        else:
            self.seconds = time.perf_counter() - t0
        return self


# ---------------------------------------------------------------------------
# DuckDB helpers shared by the checks
# ---------------------------------------------------------------------------

def _canon(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else (0.0 if v == 0 else v)
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if hasattr(v, "isoformat"):
        return v.replace(tzinfo=None).isoformat() if hasattr(v, "tzinfo") else v.isoformat()
    return v


def rows_multiset(cols, rows) -> tuple:
    """Column-name-sorted, order-insensitive form of a result (the
    registry's oracle contract: same columns, same multiset of rows)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return (tuple(sorted(cols)),
            Counter(tuple(_canon(r[i]) for i in order) for r in rows))


def duck_result(sql: str, tables_dir: str) -> tuple:
    con = duckdb.connect()
    try:
        for path in sorted(glob.glob(os.path.join(tables_dir, "*.parquet"))):
            name = os.path.basename(path)[: -len(".parquet")]
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        cur = con.execute(sql)
        return rows_multiset([d[0] for d in cur.description], cur.fetchall())
    finally:
        con.close()


# ---------------------------------------------------------------------------
# warehouse_build
# ---------------------------------------------------------------------------

class WarehouseBuild:
    name = "warehouse_build"
    n_articles = 5_000

    def __init__(self, work: str, rng):
        self.work = work
        self.articles = os.path.join(work, "input", "articles.jsonl")
        self.quartiles = os.path.join(work, "input", "quartiles.jsonl")
        os.makedirs(os.path.dirname(self.articles), exist_ok=True)
        self.input_bytes = gen.write_articles(rng, self.articles, self.n_articles)
        n_q = gen.write_quartiles(rng, self.quartiles)
        self.input_bytes += os.path.getsize(self.quartiles)
        self.inputs = {"articles": self.n_articles, "journal_quartiles": n_q}
        self.out = os.path.join(work, "warehouse")
        self.sql_out = os.path.join(work, "inserts")

    def _schemas(self):
        from pyspark.sql import types as T

        from scraping_etl_spark import schemas

        articles = T.StructType(
            [f for f in schemas.RAW_ARTICLES.fields if f.name != "publisher"]
            + [T.StructField("journal_name", T.StringType())]
        )
        quartiles = T.StructType([
            T.StructField("journal", T.StringType()),
            T.StructField("year", T.IntegerType()),
            T.StructField("quartile", T.StringType()),
            T.StructField("issn", T.StringType()),
        ])
        return articles, quartiles

    def setup(self, spark) -> None:
        self.schema, self.q_schema = self._schemas()

    def run_pass(self, spark, tracer) -> list[Op]:
        """The build as its Spark actions: plan construction, then one
        parquet write per star table, then one INSERT file per dimension
        table, read back from its parquet."""
        from scraping_etl_spark.etl.enrichment import enrich
        from scraping_etl_spark.etl.star_schema import build_star, materialize_star
        from scraping_etl_spark.sources.readers import read_json_lines
        from scraping_etl_spark.sources.writers import write_sql_inserts

        def plan():
            with tracer.span("sources.read_json_lines"):
                raw = read_json_lines(spark, self.articles, self.schema)
                quartiles = read_json_lines(spark, self.quartiles, self.q_schema, quarantine=False)
            with tracer.span("etl.enrich"):
                enriched = enrich(raw, quartiles)
            with tracer.span("etl.build_star"):
                return build_star(enriched)

        def materialize(t):
            # one table per call, so each table's jobs carry their own group
            with tracer.span(f"etl.materialize_star.{t}"):
                materialize_star({t: star[t]}, self.out)

        def inserts(t):
            with tracer.span(f"sources.write_sql_inserts.{t}"):
                write_sql_inserts(spark.read.parquet(os.path.join(self.out, t)), t,
                                  os.path.join(self.sql_out, t))

        ops = [Op("plan").run(plan)]
        star = ops[0].result
        ops += [Op(f"materialize:{t}").run(lambda t=t: materialize(t)) for t in STAR_TABLES]
        ops += [Op(f"inserts:{t}").run(lambda t=t: inserts(t)) for t in INSERT_TABLES]
        return ops

    def output_bytes(self) -> int:
        return _dir_bytes(self.out) + _dir_bytes(self.sql_out)

    def check(self, ops: list[Op]) -> int:
        """Failed checks: each star table's row count and natural-key
        checksum against a DuckDB replay of the whole pipeline over the
        generated JSON files, and each INSERT file's statement count."""
        if any(op.error for op in ops):
            return 0  # already counted as failed
        con = duckdb.connect()
        try:
            want = dict(_rows(con, replay_sql(self.articles, self.quartiles)))
            got = dict(_rows(con, output_sql(self.out)))
        finally:
            con.close()
        bad = sum(want[t] != got.get(t) for t in want)
        for t in INSERT_TABLES:
            n_stmt = 0
            for part in glob.glob(os.path.join(self.sql_out, t, "part-*")):
                with open(part, encoding="utf-8") as fh:
                    n_stmt += sum(1 for _ in fh)
            bad += n_stmt != want[t][0]
        return bad


def _rows(con, sql):
    return [(t, (n, k, c)) for t, n, k, c in con.execute(sql).fetchall()]


_EMAIL = r"^[\w\.-]+@[\w\.-]+\.\w+$"
_SCRUB = r"[^A-Za-zÀ-ÿ0-9\s''-]"  # quote doubled for a SQL literal


def _fold(expr: str) -> str:
    # order-free checksum: sum of a 60-bit md5 prefix, mod a prime
    return (f"CAST(COALESCE(SUM(('0x' || substr(md5({expr}), 1, 15))::BIGINT "
            f"% 1000000007), 0) AS BIGINT)")


def _alias_sql() -> str:
    from scraping_etl_spark.operators.cleaning import COUNTRY_ALIASES

    keys = ", ".join(f"'{k}'" for k in COUNTRY_ALIASES)
    vals = ", ".join("'" + v.replace("'", "''") + "'" for v in COUNTRY_ALIASES.values())
    return f"MAP([{keys}], [{vals}])"


def _checks(src: dict[str, str]) -> str:
    """(tbl, n_rows, n_keys, checksum) over natural-key strings; ``src``
    maps each table to a relation with the columns used below."""
    parts = {
        "publishers": ("concat_ws('|', ISSN, Name, Quartile)", "ISSN"),
        "topics": ("Topic", "Topic"),
        "dates": ("concat_ws('|', PublicationDate, Day, Month, Year)", "PublicationDate"),
        "keywords": ("Keyword", "Keyword"),
        "authors": ("concat_ws('|', FullName, Country, University)", "FullName"),
        "articles": ("concat_ws('|', DOI, ISSN, Title, CAST(Citations AS VARCHAR), "
                     "CAST(linked AS VARCHAR))", "DOI"),
        "author_article_map": ("concat_ws('|', DOI, FullName, Country, University)", "DOI"),
        "keyword_article_map": ("concat_ws('|', DOI, Keyword)", "DOI"),
    }
    return " UNION ALL ".join(
        f"SELECT '{t}' AS tbl, count(*) AS n, count(DISTINCT {key}) AS k, {_fold(nat)} AS c "
        f"FROM ({src[t]})"
        for t, (nat, key) in parts.items()
    ) + " ORDER BY tbl"


def output_sql(out: str) -> str:
    """Checksum query over the parquet tables the build wrote."""
    p = lambda t: f"read_parquet('{out}/{t}/**/*.parquet', hive_partitioning=true)"  # noqa: E731
    return _checks({
        "publishers": f"SELECT * FROM {p('publishers')}",
        "topics": f"SELECT * FROM {p('topics')}",
        "dates": f"SELECT * FROM {p('dates')}",
        "keywords": f"SELECT * FROM {p('keywords')}",
        "authors": f"SELECT * FROM {p('authors')}",
        # linked: the fact resolved its topic and date surrogate keys
        "articles": f"SELECT a.*, (t.Topic IS NOT NULL AND d.DateID IS NOT NULL) AS linked "
                    f"FROM {p('articles')} a LEFT JOIN {p('topics')} t ON a.TopicID = t.TopicID "
                    f"LEFT JOIN {p('dates')} d ON a.DateID = d.DateID",
        "author_article_map": f"SELECT m.DOI, a.FullName, a.Country, a.University "
                              f"FROM {p('author_article_map')} m JOIN {p('authors')} a USING (AuthorID)",
        "keyword_article_map": f"SELECT m.DOI, k.Keyword FROM {p('keyword_article_map')} m "
                               f"JOIN {p('keywords')} k USING (KeywordID)",
    })


def replay_sql(articles: str, quartiles: str) -> str:
    """The whole build replayed in DuckDB SQL: as-of quartile attach
    (newest year within 9 back, then min quartile, then min ISSN),
    every cleaning filter, country canonicalization, the character
    scrub, and each star table's natural keys."""
    aff_t = "STRUCT(author VARCHAR, university VARCHAR, country VARCHAR, location VARCHAR)[]"
    scrub = lambda c: f"replace(regexp_replace({c}, '{_SCRUB}', '', 'g'), chr(10), '')"  # noqa: E731
    aliases = _alias_sql()
    canon = lambda c: f"coalesce(element_at({aliases}, {c})[1], {c})"  # noqa: E731
    stmt = f"""
WITH raw AS (
  SELECT * FROM read_json('{articles}', format='newline_delimited', columns={{
    'title': 'VARCHAR', 'abstract': 'VARCHAR', 'doi': 'VARCHAR', 'authors': 'VARCHAR[]',
    'authors_with_affiliations': '{aff_t}', 'countries': 'VARCHAR[]', 'Date': 'VARCHAR',
    'Day': 'VARCHAR', 'Month': 'VARCHAR', 'Year': 'VARCHAR', 'citations': 'INTEGER',
    'keywords': 'VARCHAR[]', 'topic': 'VARCHAR', 'website': 'VARCHAR',
    'journal_name': 'VARCHAR'}})
),
q AS (
  SELECT * FROM read_json('{quartiles}', format='newline_delimited', columns={{
    'journal': 'VARCHAR', 'year': 'INTEGER', 'quartile': 'VARCHAR', 'issn': 'VARCHAR'}})
),
best AS (
  SELECT doi, quartile, issn FROM (
    SELECT r.doi, q.quartile, q.issn, row_number() OVER (
      PARTITION BY r.doi ORDER BY q.year DESC, q.quartile, q.issn) AS rn
    FROM raw r JOIN q ON q.journal = trim(r.journal_name)
     AND q.year <= CAST(r.Year AS INTEGER) AND q.year >= CAST(r.Year AS INTEGER) - 9
  ) WHERE rn = 1
),
enriched AS (
  SELECT r.*, r.journal_name AS pname, b.issn AS pissn, b.quartile AS pquart
  FROM raw r LEFT JOIN best b USING (doi)
),
kept AS (
  SELECT * FROM enriched
  WHERE pissn IS NOT NULL AND pname <> '' AND pissn <> 'N/A' AND pquart <> ''
    AND coalesce(Date <> 'Date not found', true) AND coalesce(Year <> 'Year not found', true)
    AND coalesce(Day <> 'Day not found', true) AND coalesce(Month <> 'Month not found', true)
    AND citations IS NOT NULL
    AND len(authors_with_affiliations) > 0 AND len(authors) > 0
    AND NOT coalesce(len(list_filter(list_transform(countries, x -> {canon('x')}),
                                     x -> regexp_matches(x, '{_EMAIL}'))) > 0, false)
),
clean AS (
  SELECT {scrub('doi')} AS doi, {scrub('title')} AS title, citations,
         pissn, pname, pquart, {scrub('Date')} AS sDate, {scrub('Day')} AS sDay,
         {scrub('Month')} AS sMonth, {scrub('Year')} AS sYear,
         {scrub('topic')} AS topic, keywords,
         list_filter(list_transform(authors_with_affiliations, x -> {{
           'author': x.author, 'country': {canon('x.country')}, 'university': x.university}}),
           x -> NOT regexp_matches(x.country, '{_EMAIL}')) AS affs
  FROM kept
),
aff AS (
  SELECT doi, a.author AS FullName, a.country AS Country, a.university AS University
  FROM (SELECT doi, unnest(affs) AS a FROM clean)
),
kw AS (SELECT doi, unnest(keywords) AS Keyword FROM clean),
pub AS (
  SELECT ISSN, Name, Quartile FROM (
    SELECT *, row_number() OVER (PARTITION BY ISSN ORDER BY Name, Quartile) AS rn
    FROM (SELECT DISTINCT pissn AS ISSN, pname AS Name, pquart AS Quartile FROM clean)
  ) WHERE rn = 1
)
"""
    checks = _checks({
        "publishers": "SELECT * FROM pub",
        "topics": "SELECT DISTINCT topic AS Topic FROM clean",
        "dates": "SELECT DISTINCT sDate AS PublicationDate, sDay AS Day, sMonth AS Month, sYear AS Year FROM clean",
        "keywords": "SELECT DISTINCT Keyword FROM kw",
        "authors": "SELECT DISTINCT FullName, Country, University FROM aff",
        "articles": "SELECT doi AS DOI, pissn AS ISSN, title AS Title, citations AS Citations, "
                    "true AS linked FROM clean",
        "author_article_map": "SELECT doi AS DOI, FullName, Country, University FROM aff",
        "keyword_article_map": "SELECT doi AS DOI, Keyword FROM kw",
    })
    return stmt + checks


# ---------------------------------------------------------------------------
# registry rows (analyst_session)
# ---------------------------------------------------------------------------

def _spec(name: str):
    from scraping_etl_spark.plans.registry import QUERIES

    return next(q for q in QUERIES if q.name == name)


def run_row(spark, tracer, name: str, tables_dir: str, layer: str) -> Op:
    """Plan construction (``spec.fn``: driver Python plus any eager
    build jobs) and execution (collect) of one registry row, under the
    spans ``<layer>.build`` and ``<layer>.exec``."""
    spec = _spec(name)

    def go():
        with tracer.span(f"{layer}.build", row=name):
            df = spec.fn(spark, tables_dir)
        with tracer.span(f"{layer}.exec", row=name):
            return df.columns, [tuple(r) for r in df.collect()]

    return Op(name, tables_dir).run(go)


def check_rows(ops: list[Op]) -> int:
    """Mismatches of collected rows against each row's registry oracle
    (rows without an oracle only need to have run). Every pass reads an
    identical copy of the tables, so each oracle runs once."""
    bad = 0
    want: dict[tuple[str, str], tuple] = {}
    for op in ops:
        spec = _spec(op.name) if op.error is None else None
        if spec is None or spec.oracle is None:
            continue
        sql = spec.oracle(op.tables_dir) if callable(spec.oracle) else spec.oracle
        if (op.name, sql) not in want:
            want[op.name, sql] = duck_result(sql, op.tables_dir)
        if rows_multiset(*op.result) != want[op.name, sql]:
            op.error = "result differs from the DuckDB oracle"
            bad += 1
    return bad


class AnalystSession:
    """One analyst's closed loop over a fresh copy of the tables: the
    relational queries, then the trainers, then the curation rows. The
    order is fixed: the first operation of a cold pass pays about a
    second of shared class loading and JIT, and moving that between
    operations from run to run made ``op_p50_ms`` bimodal."""

    name = "analyst_session"
    scale = 15_000
    n_docs, n_vecs, replicas = 300, 150, 4

    def __init__(self, work: str, rng):
        self.base = os.path.join(work, "tables")
        self.inputs = gen.write_tables(rng, self.base, self.scale)
        # the replicated corpus replaces the plain documents and embeddings
        self.inputs.update(gen.write_corpus(rng, self.base, self.n_docs, self.n_vecs,
                                            self.replicas))
        self.input_bytes = _dir_bytes(self.base)
        self.passes = 0

    def setup(self, spark) -> None:
        from scraping_etl_spark.schemas import TESTDATA_TABLES
        from scraping_etl_spark.sources.readers import load_table

        for t in TESTDATA_TABLES:
            load_table(spark, self.base, t).schema

    def run_pass(self, spark, tracer) -> list[Op]:
        # trainers cache per input directory: a fresh copy per pass
        # makes every pass train again
        self.passes += 1
        tables = f"{self.base}-pass{self.passes}"
        shutil.copytree(self.base, tables)
        ops = [run_row(spark, tracer, name, tables, "plans.query") for name in QUERY_ROWS]
        for name, mod, fn in TRAINERS:
            def train(mod=mod, fn=fn, name=name):
                with tracer.span(f"train.{name}"):
                    getattr(importlib.import_module(mod), fn)(tables)
            ops.append(Op(f"train:{name}").run(train))
        for name in CURATION_ROWS:
            module = _spec(name).fn.__module__.rsplit(".", 1)[-1]
            ops.append(run_row(spark, tracer, name, tables, f"plans.{module}"))
        return ops

    def output_bytes(self) -> int:
        return 0

    def check(self, ops: list[Op]) -> int:
        return check_rows([op for op in ops if not op.name.startswith("train:")])


WORKLOADS = {w.name: w for w in (WarehouseBuild, AnalystSession)}
