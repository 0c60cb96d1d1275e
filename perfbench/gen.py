"""Seeded input generators for the benchmark. Pure Python: no Spark calls.

Everything here is a deterministic function of the seed, so the same seed
gives byte-identical inputs on every run and in every process (the live
simulators run inside Spark's Python workers and must agree with the
replay in the benchmark's own process).

Corpus inputs use the reference's on-disk layout:

    <root>/Catalogues/<batch>/CAT_<n>_tagged.xml   TEI, with a samplingDecl
    <root>/script/logs/idqueried_<c>.json          query cache, split by the
                                                   key's first character
    <root>/sparql/recorded.jsonl                   recorded SPARQL-JSON docs
                                                   (qid, query_idx, json)

Operator-mix inputs are the ten parquet tables the query registry reads, in
the schemas and value domains of the repository's synthetic TPC-H-like
test tables (TESTDATA.md).
"""

from __future__ import annotations

import copy
import hashlib
import json
import os
import random
import re
from dataclasses import dataclass, field

from wde_spark.data import load
from wde_spark.functions.classify import (QDICT_FIELDS, certitude,
                                          ladder_candidates, prep_query)

# ---------------------------------------------------------------------------
# deterministic answers (shared by the cache writer and the live simulators)
# ---------------------------------------------------------------------------

# Traffic, set from the reference corpus's recorded figures (FIXTURES.md,
# BASELINE.md) and checked on generated corpora of 2k-16k items:
# - a query string has a hit with probability SEARCH_HIT_RATE, which
#   resolves about 96% of name-table rows, as 192 of the 200 golden rows
#   have a QID (FIXTURES.md section 4);
# - PEOPLE_PER_ITEM and PERSON_TRAIT_REUSE set how often the same query
#   string recurs, giving about 0.79 distinct search queries per item, as
#   65,393 cached queries for 82,902 items (BASELINE.md, corpus scale);
# - QID_POOL_PER_ITEM gives about 0.23 distinct QIDs per item, as 18,899
#   for 82,902 items (BASELINE.md), so about 0.93 SPARQL calls per item
#   (four queries per QID) and about 1.7 API calls per item in all.
SEARCH_HIT_RATE = 0.85
PEOPLE_PER_ITEM = 1 / 3
PERSON_TRAIT_REUSE = 0.8
QID_POOL_PER_ITEM = 0.25


def _digest(seed: int, kind: str, key: str) -> bytes:
    return hashlib.md5(f"{seed}|{kind}|{key}".encode()).digest()


def search_answer(seed: int, qstr: str, qid_pool: int) -> dict:
    """What the simulated full-text search returns for one query string:
    a hit for about SEARCH_HIT_RATE of strings, else the empty result."""
    h = _digest(seed, "search", qstr)
    if h[0] >= int(SEARCH_HIT_RATE * 256):
        return {"qid": "", "title": "", "snippet": ""}
    n = int.from_bytes(h[1:5], "big") % qid_pool + 1
    return {"qid": f"Q{n}", "title": f"item {n}",
            "snippet": f"snippet {h[5:9].hex()}"}


def recorded_certitude(seed: int, qstr: str) -> bool:
    """Certitude stored in the cache file (about 30% true, as in the
    reference's dummy caches)."""
    return _digest(seed, "cert", qstr)[0] < 77


_LABELS = ["Paris", "paris", "Paris.", "France", "france", "French",
           "writer", "Writer", "painter", "composer", "Composer,",
           "Légion d'honneur", "légion d’honneur", "Catholic Church",
           "catholic church", "male", "female", "Male"]


def _value(rng: random.Random, var: str, all_vars: set[str]) -> str:
    if var.endswith("L") and var[:-1] in all_vars:
        return rng.choice(_LABELS)
    if var in ("birth", "death", "inception", "pubdate"):
        return f"{rng.randint(1700, 1900)}-{rng.randint(1, 12):02d}-" \
               f"{rng.randint(1, 28):02d}T00:00:00Z"
    if var.endswith("count"):
        return str(rng.randint(1, 40))
    if var.endswith("ID"):
        return str(rng.randint(10 ** 6, 10 ** 7))
    if var in ("img", "signature"):
        return f"http://commons.wikimedia.org/wiki/Special:FilePath/" \
               f"f{rng.randint(1, 9)}.jpg"
    return f"http://www.wikidata.org/entity/Q{rng.randint(1, 60)}"


# P570 is a date, so its label is empty; `wdt:119` is no property
_NEVER_BOUND = {"deathplace", "deathplaceL", "burialplace", "burialplaceL"}
_RE_VARS = re.compile(r"^SELECT DISTINCT (.*)$", re.M)


def sparql_answer(seed: int, query: str) -> dict:
    """SPARQL-JSON document the simulated WDQS returns for one query text:
    0-3 bindings (0-1 under LIMIT 1) drawn from small value pools, so the
    cartesian-product duplicates the enrichment dedup removes do occur.
    The repository records no per-query binding counts, so these counts
    are a modelling choice. The variables the reference's queries can
    never bind (SURVEY.md, known reference bugs) stay unbound."""
    rng = random.Random(f"{seed}|sparql|{query}")
    head = [v.lstrip("?") for v in _RE_VARS.search(query)[1].split()]
    n_bind = rng.randint(0, 1) if "LIMIT 1" in query else rng.randint(0, 3)
    bindings = []
    if n_bind:
        all_vars = set(head)
        pools = {v: [_value(rng, v, all_vars) for _ in range(2)]
                 for v in head}
        for _ in range(n_bind):
            bindings.append({v: {"type": "literal",
                                 "value": rng.choice(pools[v])}
                             for v in head if v not in _NEVER_BOUND
                             and rng.random() < 0.35})
    return {"head": {"vars": head}, "results": {"bindings": bindings}}


# ---------------------------------------------------------------------------
# TEI corpus
# ---------------------------------------------------------------------------

_SYL = ["ber", "lan", "mar", "che", "rou", "vil", "mon", "tal", "du", "gar",
        "lor", "bel", "fon", "ta", "ne", "ri", "sau", "ve", "dre", "co",
        "pin", "gué", "ra", "bou", "lis"]
_TITLES = ["duc", "duchesse", "comte", "comtesse", "marquis", "baron",
           "prince", "vicomte"]
_FIRST = ["Victor", "Jean", "Marie", "Louis", "Pierre", "Charles", "Henri",
          "Anne", "Auguste", "Jacques", "Sophie", "Paul"]
_PLAIN_TRAITS = ["pièce intéressante", "belle lettre", "très rare"]
_DESC_TERMS = ["L. a. s.", "P. s.", "L. s.", "Pièce", "Manuscrit autographe"]


@dataclass
class Item:
    xml_id: str
    names: list[str]
    traits: list[str]


@dataclass
class Catalogue:
    cat_id: str
    batch: str
    items: list[Item] = field(default_factory=list)


def _surname(rng: random.Random) -> str:
    s = "".join(rng.choice(_SYL) for _ in range(rng.randint(2, 3)))
    return s.capitalize()


def _trait(rng: random.Random) -> str:
    """A tei:trait with dates for about 46% and an occupation for about
    48% of traits, so that with 85% of items carrying one, about 39% and
    40% of items do, as in the golden set (78 and 81 of 200 rows,
    FIXTURES.md section 4)."""
    parts = []
    if rng.random() < 0.46:
        b = rng.randint(1700, 1860)
        parts.append(f"né en {b}")
        if rng.random() < 0.7:
            parts.append(f"mort en {b + rng.randint(25, 85)}")
    if rng.random() < 0.48:
        parts.insert(0, rng.choice(list(load("functions"))))
    return ", ".join(parts) or rng.choice(_PLAIN_TRAITS)


@dataclass
class Person:
    last: str
    first: str
    abbrev: str
    title: str
    trait: str


def _person(rng: random.Random) -> Person:
    return Person(_surname(rng).upper(), rng.choice(_FIRST),
                  rng.choice(list(load("names"))).capitalize(),
                  f"{rng.choice(_TITLES)} de {_surname(rng)}", _trait(rng))


def _name(rng: random.Random, people: list[Person]) -> tuple[str, str]:
    """One tei:name in the catalogue's shapes and the trait that goes with
    it: a person (abbreviated or full first name; a title for about 18%
    of names, as 37 of the 200 golden rows have one), a place, an event,
    or a miscellany. A person's lots mostly repeat the same description,
    so the same query strings recur across catalogues."""
    r = rng.random()
    if r < 0.80:
        # Zipf-ish reuse of a fixed population: names recur across
        # catalogues, as the same sellers' lots do in the real corpus
        p = people[int(len(people) * rng.random() ** 2)]
        trait = p.trait if rng.random() < PERSON_TRAIT_REUSE \
            else _trait(rng)
        if rng.random() < 0.23:
            return f"{p.last} ({p.title})", trait
        if rng.random() < 0.5:
            return f"{p.last} ({p.abbrev}.)", trait
        return f"{p.last} ({p.first})", trait
    trait = _trait(rng)
    if r < 0.88:
        pool = load("provinces") + load("dpts") + load("colonies")
        place = rng.choice(pool)
        return (place.upper() if rng.random() < 0.5
                else place.capitalize()), trait
    if r < 0.94:
        ev = rng.choice(list(load("events")))
        return ev.capitalize() + (f" {rng.randint(1600, 1870)}"
                                  if rng.random() < 0.5 else ""), trait
    return rng.choice(["Documents divers", "Charte", "Divers"]), trait


def make_catalogues(seed: int, n_items: int,
                    n_catalogues: int) -> list[Catalogue]:
    """Heavy-tailed catalogue sizes summing exactly to n_items; about 5% of
    names are `le même`; about 2% of items carry two names (FIXTURES.md
    section 1). The sizes are fixed Pareto quantiles (only their order
    depends on the seed), so every seed has the same size profile."""
    rng = random.Random(f"{seed}|corpus")
    weights = [(1 - (k + 0.5) / n_catalogues) ** (-1 / 1.3)
               for k in range(n_catalogues)]
    rng.shuffle(weights)
    total = sum(weights)
    sizes = [max(3, round(w / total * n_items)) for w in weights]
    sizes[sizes.index(max(sizes))] += n_items - sum(sizes)
    people = [_person(rng)
              for _ in range(max(50, int(n_items * PEOPLE_PER_ITEM)))]
    cats = []
    for c, size in enumerate(sizes):
        num = 100 + c * 7
        batch_lo = (c // 100) * 100 + 1
        cat = Catalogue(f"CAT_{num:06d}", f"{batch_lo}-{batch_lo + 99}")
        for k in range(size):
            if k > 0 and rng.random() < 0.05:
                names = [rng.choice(["Le même", "La même"])]
                it_traits = [_trait(rng)] if rng.random() < 0.5 else []
            elif rng.random() < 0.02:
                names = [_name(rng, people)[0], _name(rng, people)[0]]
                it_traits = [_trait(rng) for _ in range(rng.choice([1, 2]))]
            else:
                name, trait = _name(rng, people)
                names = [name]
                it_traits = [trait] if rng.random() < 0.85 else []
            cat.items.append(Item(f"{cat.cat_id}_e{k + 1}", names,
                                  it_traits))
        cats.append(cat)
    return cats


def _xml_escape(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def catalogue_xml(cat: Catalogue, rng: random.Random) -> str:
    items = []
    for k, it in enumerate(cat.items):
        names = "".join(f'<name type="author">{_xml_escape(n)}</name>'
                        for n in it.names)
        traits = "".join(f"<trait><p>{_xml_escape(t)}</p></trait>"
                         for t in it.traits)
        price = rng.randint(2, 400)
        items.append(
            f'<item n="{k + 1}" xml:id="{it.xml_id}"><num>{k + 1}</num>'
            f"{names}{traits}<desc><term>{rng.choice(_DESC_TERMS)}</term>; "
            f"<date>{rng.randint(1750, 1880)}</date>, {rng.randint(1, 8)} p. "
            f'in-8. <measure type="price" unit="FRF" quantity="{price}">'
            f"{price}</measure></desc></item>")
    return (
        '<?xml version="1.0" encoding="UTF-8"?>\n'
        f'<TEI xmlns="http://www.tei-c.org/ns/1.0" xml:id="{cat.cat_id}">'
        "<teiHeader><fileDesc><titleStmt><title>Catalogue</title>"
        "</titleStmt><publicationStmt><p>synthetic</p></publicationStmt>"
        "<sourceDesc><p>generated</p></sourceDesc></fileDesc>"
        "<encodingDesc><samplingDecl><p>Only autograph lots are encoded."
        "</p></samplingDecl></encodingDesc></teiHeader>"
        f"<text><body><div><list>{''.join(items)}</list></div></body>"
        "</text></TEI>\n")


# ---------------------------------------------------------------------------
# name-table rows and the reference ladder, replayed in plain Python
# ---------------------------------------------------------------------------

def _norm(s: str) -> str:
    return re.sub(r"\s+", " ", s.replace("\n", ""))


def nametable_rows(cats: list[Catalogue]) -> list[tuple]:
    """(catalogue_id, item_pos, row_pos, xml_id, name, trait) per name-table
    row: the reference csvbuilder's five cases."""
    out = []
    for cat in cats:
        for pos, it in enumerate(cat.items):
            name, trait = it.names, it.traits
            if len(trait) == 0:
                pairs = [(_norm(name[0]) if len(name) == 1
                          else "; ".join(_norm(n) for n in name), "")]
            elif len(trait) != len(name) and len(trait) > 1:
                pairs = [("; ".join(_norm(n) for n in name),
                          "; ".join(_norm(t) for t in trait))]
            elif len(trait) != len(name):
                pairs = [(n, trait[0] if i == 0 else "")
                         for i, n in enumerate(name)]
            elif len(name) > 1:
                pairs = [(_norm(n), _norm(t)) for n, t in zip(name, trait)]
            else:
                pairs = [(_norm(name[0]), _norm(trait[0]))]
            for r, (n, t) in enumerate(pairs):
                out.append((cat.cat_id, pos, r, it.xml_id, n, t))
    return out


def ladders(rows: list[tuple]) -> list[tuple[object, list[str]]]:
    """(qdict, candidates) per row, with `le même` rows inheriting the
    previous row's qdict within their catalogue. The qdict is the one the
    candidates were built from (ladder_candidates expands its fname)."""
    out = []
    prev, prev_cat = None, None
    for cat_id, _, _, _, name, trait in rows:
        if cat_id != prev_cat:
            prev, prev_cat = None, cat_id
        q = prep_query(name or "", trait or "")
        if q is None:
            q = copy.copy(prev)
        else:
            prev = copy.copy(q)
        if q is None or (q.lname is None and not any(
                getattr(q, f) for f in QDICT_FIELDS[:-1] if f != "lname")):
            out.append((q, []))
            continue
        out.append((q, ladder_candidates(q)))
    return out


# ---------------------------------------------------------------------------
# writers
# ---------------------------------------------------------------------------

@dataclass
class Corpus:
    root: str
    cats_glob: str
    cache_glob: str
    recorded_path: str
    rows: list[tuple]
    ladders: list[tuple]
    qid_pool: int
    docs: list[tuple[str, int, dict]]


def write_corpus(root: str, seed: int, n_items: int, n_catalogues: int,
                 with_cache: bool) -> Corpus:
    """Write the TEI catalogues and, with `with_cache`, the idqueried_*
    cache covering every ladder candidate plus the recorded SPARQL
    documents of every QID the ladder resolves to. Without it the cache
    is one empty file, as before a first live run."""
    from wde_spark.sources.wdqs import config_queries

    cats = make_catalogues(seed, n_items, n_catalogues)
    rng = random.Random(f"{seed}|xml")
    for cat in cats:
        d = os.path.join(root, "Catalogues", cat.batch)
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, f"{cat.cat_id}_tagged.xml"), "w",
                  encoding="utf-8") as f:
            f.write(catalogue_xml(cat, rng))
    rows = nametable_rows(cats)
    lad = ladders(rows)
    qid_pool = max(50, round(n_items * QID_POOL_PER_ITEM))
    logs = os.path.join(root, "script", "logs")
    os.makedirs(logs, exist_ok=True)
    parts: dict[str, dict] = {"": {}}
    if with_cache:
        for _, cands in lad:
            for c in cands:
                a = search_answer(seed, c, qid_pool)
                parts.setdefault(c[:1], {})[c] = [
                    a["qid"], a["title"], a["snippet"],
                    recorded_certitude(seed, c)]
    for ch, kv in parts.items():
        with open(os.path.join(logs, f"idqueried_{ch}.json"), "w",
                  encoding="utf-8") as f:
            json.dump(kv, f, ensure_ascii=False)
    qids = sorted({resolve_row(seed, q, cands, qid_pool, "cache")[0]
                   for q, cands in lad} - {""})
    docs = [(qid, i, sparql_answer(seed, q)) for qid in qids
            for i, q in enumerate(config_queries(qid))]
    recorded = os.path.join(root, "sparql", "recorded.jsonl")
    os.makedirs(os.path.dirname(recorded), exist_ok=True)
    with open(recorded, "w", encoding="utf-8") as f:
        for qid, i, doc in docs if with_cache else []:
            f.write(json.dumps({"qid": qid, "query_idx": i,
                                "json": json.dumps(doc)}) + "\n")
    return Corpus(root, os.path.join(root, "Catalogues", "*", "CAT_*.xml"),
                  os.path.join(logs, "idqueried_*.json"), recorded, rows,
                  lad, qid_pool, docs)


def resolve_row(seed: int, q, cands: list[str], qid_pool: int,
                certitude_source: str) -> tuple[str, bool]:
    """(wd_id, certitude) for one row: the first ladder candidate with a
    non-empty answer wins."""
    for c in cands:
        a = search_answer(seed, c, qid_pool)
        if a["qid"]:
            cert = (recorded_certitude(seed, c) if certitude_source == "cache"
                    else certitude(q, c))
            return a["qid"], cert
    return "", False


# ---------------------------------------------------------------------------
# operator-mix tables
# ---------------------------------------------------------------------------

_WORDS = ["join", "hash", "row", "batch", "scan", "column", "customer",
          "filter", "small", "slow", "merge", "order", "vector", "line",
          "table", "data", "agg", "value", "key", "stream", "window", "a",
          "spark", "part", "group", "big", "sort", "query", "fast", "the"]


def write_tables(root: str, seed: int, sf: float) -> None:
    """The registry's ten tables at scale factor `sf` (lineitem has
    6,000,000 x sf rows), as parquet files under `root`."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    g = np.random.default_rng(seed)
    os.makedirs(root, exist_ok=True)

    def put(name, cols):
        pq.write_table(pa.table(cols), os.path.join(root, f"{name}.parquet"))

    def money(lo, hi, n):
        return g.integers(int(lo * 100), int(hi * 100), n) / 100.0

    def days(start, n_days, n):
        base = np.datetime64(start, "us")
        return base + g.integers(0, n_days, n) * np.timedelta64(86400, "s")

    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), \
        int(200_000 * sf)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    put("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE",
                              "MIDDLE EAST"]})
    put("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array([i % 5 for i in range(25)],
                                           pa.int32())})
    put("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": g.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": g.choice(["HOUSEHOLD", "MACHINERY", "FURNITURE",
                                  "BUILDING", "AUTOMOBILE"], n_cust)})
    put("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": g.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod",
            "widget"]
    put("part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(g.integers(0, 8, n_part), g.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in g.integers(1, 26, n_part)],
        "p_type": g.choice(["ECONOMY", "SMALL", "MEDIUM", "PROMO",
                            "STANDARD", "LARGE"], n_part),
        "p_size": g.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2)})
    put("orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": g.integers(0, n_cust, n_ord),
        "o_orderstatus": g.choice(["P", "F", "O"], n_ord),
        "o_totalprice": money(1000, 500_000, n_ord),
        "o_orderdate": days("1995-01-01", 2404, n_ord),
        "o_orderpriority": g.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    put("lineitem", {
        "l_orderkey": g.integers(0, n_ord, n_li),
        "l_partkey": g.integers(0, n_part, n_li),
        "l_suppkey": g.integers(0, n_supp, n_li),
        "l_linenumber": g.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": g.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(900, 100_000, n_li),
        "l_discount": g.integers(0, 11, n_li) / 100.0,
        "l_tax": g.integers(0, 9, n_li) / 100.0,
        "l_returnflag": g.choice(["A", "N", "R"], n_li),
        "l_linestatus": g.choice(["F", "O"], n_li),
        "l_shipdate": days("1995-01-02", 2450, n_li)})
    n_ev, n_users = int(1_000_000 * sf), int(15_000 * sf)
    ts = np.sort(np.datetime64("2024-01-01", "us")
                 + g.integers(0, 30 * 86400 * 10 ** 6, n_ev)
                 * np.timedelta64(1, "us"))
    put("events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts,
        "user_id": g.integers(0, n_users, n_ev),
        "event_type": g.choice(["signup", "error", "click", "view",
                                "purchase"], n_ev),
        "value": np.round(g.exponential(50, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in g.integers(0, 100, n_ev)]})
    n_doc = int(50_000 * sf)
    texts = [" ".join(g.choice(_WORDS, int(k)))
             for k in g.integers(10, 100, n_doc)]
    for i in range(0, n_doc, 97):  # planted exact and near duplicates
        j = int(g.integers(0, n_doc))
        texts[i] = texts[j] if i % 2 else texts[j] + " dup"
    put("documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": g.choice(["en", "en", "en", "zh", "es", "de", "fr"], n_doc),
        "source": [f"src{s}" for s in g.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    n_emb = max(200, int(20_000 * sf))
    centers = g.normal(size=(10, 64))
    labels = g.integers(0, 10, n_emb)
    vecs = centers[labels] + 0.6 * g.normal(size=(n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    put("embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": labels.astype(np.int32)})
