"""Output checks, run outside the timed region.

Corpus passes are checked against an independent plain-Python replay of
the reference semantics over the generated inputs (no Spark): the ladder
against the cache or the simulator, the SPARQL-JSON dedup, and the `@ref`
injection. Operator-mix queries are checked against their DuckDB oracle
SQL by a sorted-row hash.
"""

from __future__ import annotations

import csv
import glob
import hashlib
import json
import math
import os
import re
import xml.etree.ElementTree as ET

from . import gen

TEI = "{http://www.tei-c.org/ns/1.0}"
_PUNCT = re.compile(r"""[!@#$%^&*()_\-+={}\[\]:;"'|<>,.?/~`]""")


def _clean(v: str) -> str:
    v = v.replace("http://www.wikidata.org/entity/", "")
    return re.sub(r"T\d{2}:\d{2}:\d{2}Z$", "", v)


def _compare_form(v: str) -> str:
    v = re.sub(r"[ \t\n\x0b\f\r]+", " ", _PUNCT.sub("", v.lower()))
    return re.sub(r"(^[ \t\n\x0b\f\r]|[ \t\n\x0b\f\r]$)", "", v)


def enrichment_replay(docs: list[tuple[str, int, dict]]
                      ) -> tuple[dict, int]:
    """The reference's result_tojson over (qid, query_idx, doc) triples:
    per (qid, var), values in binding order, keeping the first cleaned form
    of each compare-equivalence class. Returns ({qid: {var: values}},
    number of bound values seen)."""
    store: dict = {}
    bound = 0
    for qid, _, doc in docs:
        bindings = doc["results"]["bindings"]
        if not bindings:
            continue
        per = store.setdefault(qid, {})
        for var in doc["head"]["vars"]:
            vals, seen = per.setdefault(var, []), set()
            for v in vals:
                seen.add(_compare_form(v))
            for b in bindings:
                value = b.get(var, {}).get("value")
                if value is None:
                    continue
                bound += 1
                cleaned = _clean(value)
                key = _compare_form(cleaned)
                if key not in seen:
                    seen.add(key)
                    vals.append(cleaned)
    return store, bound


class CorpusExpectation:
    """Expected outputs of one pass, computed once from the inputs."""

    def __init__(self, corpus: gen.Corpus, seed: int, certitude_source: str):
        self.corpus = corpus
        self.resolved = [
            (row[3], *gen.resolve_row(seed, q, cands, corpus.qid_pool,
                                      certitude_source))
            for row, (q, cands) in zip(corpus.rows, corpus.ladders)]
        self.digest = _digest(f"{x}\t{w}\t{str(c).lower()}"
                              for x, w, c in self.resolved)
        self.store, self.bound = enrichment_replay(corpus.docs)
        # -w: the name -> id mapper is last-write-wins in row order
        mapper: dict[str, str] = {}
        for row, (_, wd, _) in zip(corpus.rows, self.resolved):
            mapper[row[4]] = wd
        self.refs = sorted(
            (cat, name, f"wd:{mapper[name]}")
            for cat, name in _body_names(corpus)
            if mapper.get(name))
        self.n_catalogues = len({r[0] for r in corpus.rows})

    def observed(self, out: str) -> dict:
        rows = _read_tsv(os.path.join(out, "nametable_out.tsv"))
        store = _read_store(os.path.join(out, "wikidata_enrichments.json"))
        refs, n_files, n_bytes = _read_refs(os.path.join(out,
                                                         "catalogues_wd"))
        kept = sum(len(v) for per in store.values() for v in per.values())
        return {
            "rows": rows, "store": store, "refs_list": refs,
            "refs": len(refs), "files": n_files, "bytes_written": n_bytes,
            "hit_ratio": (sum(1 for _, w, _ in rows if w) / len(rows)
                          if rows else 0.0),
            "values_kept_ratio": kept / self.bound if self.bound else 0.0,
        }

    def problems(self, out: str) -> list[str]:
        try:
            o = self.observed(out)
        except (OSError, ValueError, ET.ParseError) as e:
            return [f"unreadable output: {type(e).__name__}: {e}"]
        bad = []
        got = _digest(f"{x}\t{w}\t{c}" for x, w, c in o["rows"])
        if got != self.digest:
            want = sorted(self.resolved)
            have = sorted((x, w, c == "true") for x, w, c in o["rows"])
            diff = [(a, b) for a, b in zip(want, have) if a != b]
            bad.append(f"-i: (xml_id, wd_id, certitude) digest differs "
                       f"({len(have)} rows vs {len(want)} expected; first "
                       f"difference {diff[:1]})")
        if o["store"] != self.store:
            bad.append(f"-s: enrichment store differs ({len(o['store'])} "
                       f"QIDs vs {len(self.store)} expected)")
        if o["files"] != self.n_catalogues:
            bad.append(f"-w: {o['files']} files vs {self.n_catalogues}")
        if o["refs_list"] != self.refs:
            bad.append(f"-w: {o['refs']} @ref vs {len(self.refs)} mapped "
                       f"names")
        return bad


def _digest(lines) -> str:
    h = hashlib.sha256()
    for ln in sorted(lines):
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()


def _body_names(corpus: gen.Corpus):
    for path in sorted(glob.glob(corpus.cats_glob)):
        cat = re.search(r"CAT_\d+", path)[0]
        root = ET.parse(path).getroot()
        for body in root.iter(f"{TEI}body"):
            for name in body.iter(f"{TEI}name"):
                yield cat, name.text or ""


def _read_tsv(path: str) -> list[tuple[str, str, str]]:
    rows = []
    for part in sorted(glob.glob(os.path.join(path, "part-*"))):
        with open(part, encoding="utf-8", newline="") as f:
            r = csv.reader(f, delimiter="\t", quotechar='"',
                           escapechar="\\")
            header = next(r, None)
            if header is None:
                continue
            ix, iw, ic = (header.index(k) for k in
                          ("tei:xml_id", "wd:id", "wd:certitude"))
            rows.extend((x[ix], x[iw], x[ic]) for x in r)
    return rows


def _read_store(path: str) -> dict:
    with open(path, encoding="utf-8") as f:
        return {d["qid"]: d["enrichment"] for d in json.load(f)}


def _read_refs(out_dir: str) -> tuple[list, int, int]:
    refs, n_files, n_bytes = [], 0, 0
    for path in sorted(glob.glob(os.path.join(out_dir, "*_wd.xml"))):
        n_files += 1
        n_bytes += os.path.getsize(path)
        cat = re.search(r"CAT_\d+", os.path.basename(path))[0]
        root = ET.parse(path).getroot()
        for body in root.iter(f"{TEI}body"):
            for name in body.iter(f"{TEI}name"):
                if name.get("ref"):
                    refs.append((cat, name.text or "", name.get("ref")))
    return sorted(refs), n_files, n_bytes


# ---------------------------------------------------------------------------
# operator mix: DuckDB oracle
# ---------------------------------------------------------------------------

def _cell(v) -> str:
    import datetime
    from decimal import Decimal

    if v is None:
        return "NULL"
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.6g}"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_cell(v[k])}" for k in sorted(v)) + "}"
    return str(v)


def table_digest(cols: list[str], rows: list) -> str:
    """Order-insensitive hash of a result: columns by name, rows sorted,
    floats at 6 significant figures."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return _digest("\x1f".join(_cell(r[i]) for i in order) for r in rows)


class Oracle:
    def __init__(self, data_dir: str):
        import duckdb

        from wde_spark.core.catalog import TABLES
        from wde_spark.queries import ORACLE

        self.sql = ORACLE
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 1")
        for t in TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                             f"'{os.path.join(data_dir, t)}.parquet'")

    def problems(self, name: str, cols: list[str], rows: list) -> list[str]:
        res = self.con.execute(self.sql[name])
        ocols = [d[0] for d in res.description]
        orows = res.fetchall()
        if sorted(cols) != sorted(ocols):
            return [f"{name}: columns {sorted(cols)} vs {sorted(ocols)}"]
        if len(rows) != len(orows):
            return [f"{name}: {len(rows)} rows vs {len(orows)}"]
        if table_digest(cols, rows) != table_digest(ocols, orows):
            return [f"{name}: row hash differs from the oracle"]
        return []

    def close(self) -> None:
        self.con.close()
