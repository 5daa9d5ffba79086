"""Seeded input generators for the benchmark.

Every function takes a ``numpy.random.Generator`` built from the run's
``--seed`` and writes files whose bytes depend only on that seed: the
same seed always yields byte-identical inputs (``test_perfbench.py``
pins this). The program under test reads nothing else.

- :func:`write_articles` / :func:`write_quartiles`: raw scraped-article
  JSON-lines and the multi-year journal->quartile table, with every
  cleaning hazard of ``plans/star_ops.synth_articles`` planted
  (``warehouse_build``).
- :func:`write_tables`: the ten scale tables the registry queries read,
  with the shapes and value domains of the TPC-H-like test tables
  (``analyst_session``).
- :func:`write_corpus`: ``documents`` and ``embeddings`` replicated with
  near-duplicate perturbation, as ``tools/sf1_probe.py`` builds its
  scale-up corpus (``analyst_session``).
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ("en", "en", "en", "es", "zh", "de", "fr")
MONTHS = (
    "January", "February", "March", "April", "May", "June", "July",
    "August", "September", "October", "November", "December",
)
EMB_DIM = 64


def _write_parquet(path: str, columns: dict[str, pa.Array]) -> None:
    # one row group and no pandas metadata: the bytes depend on the data only
    pq.write_table(pa.table(columns), path, compression="snappy")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


# ---------------------------------------------------------------------------
# warehouse_build: raw articles + journal quartiles
# ---------------------------------------------------------------------------

#: Country spellings in affiliations; the aliases must be canonicalized.
AFF_COUNTRIES = ("USA", "UK", "Korea", "Vietnam", "Germany", "India", "France", "Brazil")
TOPICS = ("Cryptography", "AI", "IoT", "Big Data", "Blockchain", "DevOps")
WEBSITES = ("IEEE Xplore", "Science Direct")
N_JOURNALS = 400
N_AUTHORS = 6000
N_KEYWORDS = 3000


def journal_name(j: int) -> str:
    return f"Journal of {WORDS[j % len(WORDS)].title()} {j}"


def write_quartiles(rng: np.random.Generator, path: str) -> int:
    """Quartile table as JSON-lines ``(journal, year, quartile, issn)``.

    Journals ``j % 10 == 9`` are absent (enrichment leaves Quartile NULL).
    Each present journal has a random subset of years 2005-2023, so
    articles from later years fall back to an earlier year and some find
    none inside the 9-year window; ``j % 7 == 0`` journals list two
    quartiles for one year (tie-break by min quartile); ``j % 11 == 0``
    journals carry ISSN ``N/A`` and ``j % 13 == 0`` an empty quartile on
    their newest year (the publisher sentinels). Returns the row count."""
    rows = []
    for j in range(N_JOURNALS):
        if j % 10 == 9:
            continue
        issn = f"{10000000 + j * 7919 % 89999999:08d}"
        years = sorted(int(y) for y in rng.choice(np.arange(2005, 2024), size=int(rng.integers(2, 12)), replace=False))
        for y in years:
            q = f"Q{int(rng.integers(1, 5))}"
            if y == years[-1] and j % 13 == 0:
                q = ""
            rows.append({"journal": journal_name(j), "year": y, "quartile": q,
                         "issn": "N/A" if (j % 11 == 0 and y == years[-1]) else issn})
            if j % 7 == 0 and y == years[0]:
                rows.append({"journal": journal_name(j), "year": y, "quartile": "Q4", "issn": issn})
    with open(path, "w", encoding="utf-8") as fh:
        for r in rows:
            fh.write(json.dumps(r, sort_keys=True) + "\n")
    return len(rows)


def _affiliation(a: int) -> dict:
    return {
        "author": f"Author {a}",
        "university": f"University {a % 700}",
        "country": AFF_COUNTRIES[a % len(AFF_COUNTRIES)],
        "location": f"City {a % 97}",
    }


def write_articles(rng: np.random.Generator, path: str, n: int) -> int:
    """``n`` raw articles as JSON-lines (the ETL's input, before
    enrichment: a ``journal_name`` column instead of ``publisher``).

    Planted hazards, each on a seeded share of rows: ``Date`` / ``Month``
    / ``Day`` sentinel strings, NULL citations, empty affiliation and
    author arrays, an e-mail in the ``countries`` array (row dropped), an
    e-mail country on one affiliation element (element dropped), scrub
    junk and newlines in titles and abstracts, alias country spellings,
    empty journal names and journals missing from the quartile table.
    Authors and keywords repeat across articles. ``Year`` carries no
    sentinel: enrichment casts it before cleaning drops the row, and a
    ``"Year not found"`` makes the whole build raise. Returns the byte
    count."""
    u = rng.random((n, 10))
    day = rng.integers(1, 29, n)
    month = rng.integers(0, 12, n)
    year = rng.integers(2010, 2025, n)
    cites = rng.integers(0, 500, n)
    journal = rng.integers(0, N_JOURNALS, n)
    n_auth = rng.integers(1, 6, n)
    n_kw = rng.integers(3, 9, n)
    n_words = rng.integers(8, 40, n)
    words = rng.integers(0, len(WORDS), (n, 40))
    auth_ids = rng.integers(0, N_AUTHORS, (n, 5))
    kw_ids = rng.integers(0, N_KEYWORDS, (n, 8))
    topic = rng.integers(0, len(TOPICS), n)
    site = rng.integers(0, len(WEBSITES), n)
    size = 0
    with open(path, "w", encoding="utf-8") as fh:
        for i in range(n):
            text = " ".join(WORDS[w] for w in words[i, : n_words[i]])
            affs = [_affiliation(int(a)) for a in auth_ids[i, : n_auth[i]]]
            if u[i, 0] < 0.15 and len(affs) > 1:
                affs[1]["country"] = f"author{i}@uni.edu"
            authors = [a["author"] for a in affs]
            if u[i, 1] < 0.03:
                affs = []
            if u[i, 2] < 0.02:
                authors = []
            countries = sorted({a["country"] for a in affs if "@" not in a["country"]})
            if u[i, 3] < 0.02:
                countries.append(f"contact{i}@example.org")
            d, m, y = int(day[i]), MONTHS[month[i]], int(year[i])
            date = f"{d} {m} {y}"
            if u[i, 4] < 0.02:
                date = "Date not found"
            rec = {
                "title": f"{text[:60].title()}{' #!' if u[i, 5] < 0.1 else ''}",
                "abstract": text + ("\nSee (appendix) @ 2.1" if u[i, 5] < 0.2 else ""),
                "doi": f"https://doi.org/10.{1000 + i % 9000}/art.{i}",
                "authors": authors,
                "authors_with_affiliations": affs,
                "universities": sorted({a["university"] for a in affs}),
                "countries": countries,
                "locations": [f"{a['university']}, {a['country']}" for a in affs],
                "Date": date,
                "Day": "Day not found" if u[i, 6] < 0.01 else str(d),
                "Month": "Month not found" if u[i, 7] < 0.01 else m,
                "Year": str(y),
                "citations": None if u[i, 8] < 0.03 else int(cites[i]),
                "type": "RESEARCH-ARTICLE",
                "keywords": [f"kw{int(k)}" for k in kw_ids[i, : n_kw[i]]],
                "topic": TOPICS[topic[i]],
                "website": WEBSITES[site[i]],
                "journal_name": "" if u[i, 9] < 0.01 else journal_name(int(journal[i])),
            }
            line = json.dumps(rec, sort_keys=True) + "\n"
            size += len(line.encode("utf-8"))
            fh.write(line)
    return size


# ---------------------------------------------------------------------------
# analyst_session: the ten scale tables
# ---------------------------------------------------------------------------

PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO")
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "signup", "error", "view", "purchase")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")


def _days(base: dt.date, offsets: np.ndarray) -> pa.Array:
    us = (np.datetime64(base, "us") + offsets.astype("timedelta64[D]")).astype("datetime64[us]")
    return pa.array(us, type=pa.timestamp("us"))


def _documents(rng: np.random.Generator, n: int) -> dict[str, pa.Array]:
    lens = rng.integers(10, 101, n)
    texts = [" ".join(WORDS[w] for w in rng.integers(0, len(WORDS), k)) for k in lens]
    # 5% near-duplicates: an earlier document plus one marker word
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[k] for k in rng.integers(0, len(LANGS), n)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def _embeddings(rng: np.random.Generator, n: int) -> dict[str, pa.Array]:
    centers = rng.normal(size=(10, EMB_DIM))
    label = rng.integers(0, 10, n)
    v = centers[label] + 0.6 * rng.normal(size=(n, EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    }


def write_tables(rng: np.random.Generator, out_dir: str, scale: int) -> dict[str, int]:
    """TPC-H-like tables at ``scale`` orders (``scale // 10`` customers,
    about 4 lineitems per order) plus events, documents and embeddings.
    Returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = scale // 10, max(10, scale // 150), scale // 7
    n_ord, n_ev, n_doc, n_emb = scale, scale * 2 // 3, scale // 30, scale // 75
    t: dict[str, dict[str, pa.Array]] = {}
    t["region"] = {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)), "r_name": pa.array(REGIONS)}
    t["nation"] = {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    }
    t["customer"] = {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array([SEGMENTS[k] for k in rng.integers(0, 5, n_cust)]),
    }
    t["supplier"] = {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    }
    t["part"] = {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))]),
        "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, n_part)]),
        "p_type": pa.array([PART_TYPES[k] for k in rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) / 10, 2)),
    }
    # 2/3 of customers place orders, so some have none
    t["orders"] = {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust * 2 // 3, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array([("P", "O", "F")[k] for k in rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(_money(rng, 1000, 500000, n_ord)),
        "o_orderdate": _days(dt.date(1995, 1, 1), rng.integers(0, 2404, n_ord)),
        "o_orderpriority": pa.array([PRIORITIES[k] for k in rng.integers(0, 5, n_ord)]),
    }
    per_order = rng.integers(0, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), per_order)
    n_li = len(okey)
    t["lineitem"] = {
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(np.concatenate([np.arange(1, k + 1) for k in per_order]).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900, 105000, n_li)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array([("A", "N", "R")[k] for k in rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array([("O", "F")[k] for k in rng.integers(0, 2, n_li)]),
        "l_shipdate": _days(dt.date(1995, 1, 2), rng.integers(0, 2498, n_li)),
    }
    ts_us = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev))
    t["events"] = {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts_us.astype("timedelta64[us]"), type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n_ev).astype(np.int64)),
        "event_type": pa.array([EVENT_TYPES[k] for k in rng.integers(0, 5, n_ev)]),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    }
    t["documents"] = _documents(rng, n_doc)
    t["embeddings"] = _embeddings(rng, n_emb)
    for name, cols in t.items():
        _write_parquet(os.path.join(out_dir, f"{name}.parquet"), cols)
    return {name: len(next(iter(cols.values()))) for name, cols in t.items()}


# ---------------------------------------------------------------------------
# analyst_session: replicated near-duplicate corpus
# ---------------------------------------------------------------------------

def write_corpus(
    rng: np.random.Generator, out_dir: str, n_docs: int, n_vecs: int, replicas: int
) -> dict[str, int]:
    """``documents`` and ``embeddings`` with ``replicas`` id-shifted copies
    of a seeded base: each document copy carries one replica-tagged token
    and each vector copy a deterministic per-element scaling, so every
    base item sits in a ``replicas``-member near-duplicate group
    (``tools/sf1_probe.py``'s construction). Returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    docs = _documents(rng, n_docs)
    texts = docs["text"].to_pylist()
    out_docs = {"doc_id": [], "text": [], "lang": [], "source": [], "n_chars": []}
    for r in range(replicas):
        tagged = [f"{t} replica{r}" for t in texts]
        out_docs["doc_id"].append(np.arange(n_docs, dtype=np.int64) + r * n_docs)
        out_docs["text"].extend(tagged)
        out_docs["lang"].extend(docs["lang"].to_pylist())
        out_docs["source"].extend(docs["source"].to_pylist())
        out_docs["n_chars"].append(np.array([len(t) for t in tagged], dtype=np.int64))
    emb = _embeddings(rng, n_vecs)
    base = np.array(emb["embedding"].to_pylist(), dtype=np.float64)
    vecs, ids, labels = [], [], []
    for r in range(replicas):
        eps = 1.0 + (((r * EMB_DIM + np.arange(EMB_DIM)) % 7) - 3) * 1e-3
        vecs.extend((base * eps).astype(np.float32))
        ids.append(np.arange(n_vecs, dtype=np.int64) + r * n_vecs)
        labels.append(emb["label"].to_numpy())
    _write_parquet(os.path.join(out_dir, "documents.parquet"), {
        "doc_id": pa.array(np.concatenate(out_docs["doc_id"])),
        "text": pa.array(out_docs["text"]),
        "lang": pa.array(out_docs["lang"]),
        "source": pa.array(out_docs["source"]),
        "n_chars": pa.array(np.concatenate(out_docs["n_chars"])),
    })
    _write_parquet(os.path.join(out_dir, "embeddings.parquet"), {
        "vec_id": pa.array(np.concatenate(ids)),
        "embedding": pa.array(vecs, type=pa.list_(pa.float32())),
        "label": pa.array(np.concatenate(labels)),
    })
    return {"documents": n_docs * replicas, "embeddings": n_vecs * replicas}
