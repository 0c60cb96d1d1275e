"""Catalogue-enrichment workloads: one pass runs the reference's four CLI
stages `-n -i -s -w` through the public functions of `wde_spark`, the way
`python -m wde_spark` composes them.

`corpus_offline` starts from a warm query cache and recorded SPARQL
documents; `corpus_live_sim` starts every pass from an empty cache and
resolves and enriches through in-process simulated search and WDQS
endpoints (fixed latency per call, answers a function of the query text).
"""

from __future__ import annotations

import os
import shutil
import time

from . import check, gen

LIVE_LATENCY_S = 0.002


def _search_fetcher(sc, seed: int, qid_pool: int):
    calls, hits, busy = sc.accumulator(0), sc.accumulator(0), \
        sc.accumulator(0.0)

    def fetch(qstr: str) -> dict:
        t0 = time.perf_counter()
        time.sleep(LIVE_LATENCY_S)
        out = gen.search_answer(seed, qstr, qid_pool)
        calls.add(1)
        hits.add(1 if out["qid"] else 0)
        busy.add(time.perf_counter() - t0)
        return out

    return fetch, (calls, hits, busy)


def _sparql_fetcher(sc, seed: int):
    calls, busy = sc.accumulator(0), sc.accumulator(0.0)

    def fetch(query: str) -> dict:
        t0 = time.perf_counter()
        time.sleep(LIVE_LATENCY_S)
        out = gen.sparql_answer(seed, query)
        calls.add(1)
        busy.add(time.perf_counter() - t0)
        return out

    return fetch, (calls, busy)


class CorpusWorkload:
    """Inputs, one pipeline pass, and the check of a pass's outputs."""

    def __init__(self, work: str, seed: int, live: bool, n_items: int,
                 n_catalogues: int, cpus: int):
        self.work, self.seed, self.live, self.cpus = work, seed, live, cpus
        self.corpus = gen.write_corpus(os.path.join(work, "input"), seed,
                                       n_items, n_catalogues,
                                       with_cache=not live)
        self.out = os.path.join(work, "out")
        self.expected = check.CorpusExpectation(
            self.corpus, seed, "computed" if live else "cache")
        self.units = 1  # a pass is checked as one unit
        self._final_cache = None

    def touch(self, spark) -> None:
        """Set-up warm-up: list the inputs the pipeline reads."""
        spark.read.format("binaryFile").load(self.corpus.cats_glob) \
            .select("path").count()
        spark.read.format("binaryFile").load(self.corpus.cache_glob) \
            .select("path").count()

    def run_pass(self, spark, tr, timed_call) -> dict:
        """One `-n -i -s -w` pass. `timed_call(name, fn)` times each stage as
        one call of the client; `tr` records per-layer spans when tracing."""
        from pyspark.sql import functions as F

        from wde_spark.plans.enrich import enrich_offline
        from wde_spark.plans.nametable import nametable_rows
        from wde_spark.plans.reinject import reinject
        from wde_spark.plans.resolve import build_idset, resolve_offline
        from wde_spark.sources.cache import read_query_cache, \
            write_query_cache
        from wde_spark.sources.http import resolve_live
        from wde_spark.sources.tabular import write_id_list, write_tsv
        from wde_spark.sources.tei import read_tei_items
        from wde_spark.sources.wdqs import enrich_live, fetch_enrichment

        c, out, sc = self.corpus, self.out, spark.sparkContext
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        st: dict = {}

        def stage_n():
            with tr.span("sources.tei"):
                items = tr.materialize(read_tei_items(spark, c.cats_glob))
            with tr.span("plans.nametable"):
                st["nt"] = nametable_rows(items).cache()
                st["rows"] = st["nt"].count()
            write_tsv(st["nt"].select(F.col("xml_id").alias("xml id"),
                                      F.col("wd_id").alias("wikidata id"),
                                      "name", "trait"),
                      os.path.join(out, "nametable_in.tsv"))

        def stage_i():
            with tr.span("sources.cache") as sp:
                cache = tr.materialize(read_query_cache(spark, c.cache_glob))
                if sp is not None:
                    sp.counts["entries"] = cache.count()
            if self.live:
                fetch, (calls, hits, busy) = _search_fetcher(
                    sc, self.seed, c.qid_pool)
                with tr.span("sources.http") as sp:
                    resolved, cache = resolve_live(st["nt"], cache, fetch,
                                                   n_workers=self.cpus)
                    resolved = tr.materialize(resolved)
                    if sp is not None:
                        sp.counts.update(fetches=calls.value,
                                         hits=hits.value,
                                         fetch_busy_s=busy.value)
                if tr.enabled:
                    self._final_cache = cache
                write_query_cache(cache, os.path.join(out, "cache"))
            else:
                with tr.span("plans.resolve"):
                    resolved = tr.materialize(resolve_offline(st["nt"], cache))
            st["resolved"] = resolved = resolved.cache()
            write_tsv(resolved.select(
                F.col("tei_xml_id").alias("tei:xml_id"),
                F.col("wd_id").alias("wd:id"),
                F.col("tei_name").alias("tei:name"),
                F.col("wd_name").alias("wd:name"),
                F.col("wd_snippet").alias("wd:snippet"),
                F.col("tei_trait").alias("tei:trait"),
                F.col("wd_certitude").alias("wd:certitude")),
                os.path.join(out, "nametable_out.tsv"))
            write_id_list(build_idset(resolved), "qid",
                          os.path.join(out, "id_wikidata.txt"))

        def stage_s():
            qids = build_idset(st["resolved"])
            if self.live:
                fetch, (calls, busy) = _sparql_fetcher(sc, self.seed)
                if tr.enabled:
                    # enrich_live's two halves, so each gets its own span
                    with tr.span("sources.wdqs") as sp:
                        raw = tr.materialize(fetch_enrichment(
                            qids, fetch, n_workers=self.cpus))
                        sp.counts.update(fetches=calls.value,
                                         fetch_busy_s=busy.value)
                    with tr.span("plans.enrich"):
                        store = tr.materialize(enrich_offline(raw))
                else:
                    store = enrich_live(qids, fetch, n_workers=self.cpus)
            else:
                # offline, the WDQS source is the recorded responses
                with tr.span("sources.wdqs"):
                    raw = tr.materialize(spark.read.schema(
                        "qid string, query_idx int, json string"
                    ).json(c.recorded_path).join(qids, "qid", "left_semi"))
                with tr.span("plans.enrich"):
                    store = tr.materialize(enrich_offline(raw))
            rows = store.select(F.to_json(F.struct("qid", "enrichment"))
                                .alias("j")).collect()
            with open(os.path.join(out, "wikidata_enrichments.json"), "w",
                      encoding="utf-8") as f:
                f.write("[" + ",\n".join(r.j for r in rows) + "]\n")

        def stage_w():
            with tr.span("plans.reinject") as sp:
                n = reinject(spark, st["resolved"].select(
                    "catalogue_id", "item_pos", "row_pos", "tei_name",
                    "wd_id"), c.cats_glob, os.path.join(out, "catalogues_wd"))
                if sp is not None:
                    sp.counts["files"] = n

        try:
            for name, fn in (("-n", stage_n), ("-i", stage_i),
                             ("-s", stage_s), ("-w", stage_w)):
                timed_call(name, fn)
        finally:
            for k in ("nt", "resolved"):
                if k in st:
                    st[k].unpersist()
            spark.catalog.clearCache()
        return {"items": st["rows"]}

    def check_pass(self, spark=None) -> list[str]:
        """Problems with the outputs of the last pass (empty when correct)."""
        return self.expected.problems(self.out)

    def probes(self, spark, tr) -> None:
        """Layers that run inside another layer's call, each materialized on
        its own after the traced passes: functions.classify (the qdict UDF
        plus `le même` carry-forward, which resolve_offline runs first)
        and, live, plans.resolve (the offline ladder join resolve_live ends
        with) over the cache the last traced pass filled."""
        from wde_spark.plans.nametable import nametable_rows
        from wde_spark.plans.resolve import attach_qdicts, resolve_offline
        from wde_spark.sources.tei import read_tei_items

        nt = nametable_rows(read_tei_items(spark, self.corpus.cats_glob))
        nt = nt.cache()
        nt.count()
        with tr.span("functions.classify"):
            tr.materialize(attach_qdicts(nt))
        if self.live and self._final_cache is not None:
            with tr.span("plans.resolve"):
                tr.materialize(resolve_offline(nt, self._final_cache,
                                               certitude_source="computed"))
        spark.catalog.clearCache()

    def layer_metrics(self, tr) -> dict:
        """Per-layer values from the spans of the traced passes (averaged
        per pass), the probes, and the last pass's outputs."""
        n = len([s for s in tr.spans if s.name == "pass"])
        probed = {"functions.classify"} | ({"plans.resolve"} if self.live
                                           else set())
        m: dict = {}
        for name in ("sources.tei", "plans.nametable", "plans.resolve",
                     "functions.classify", "plans.enrich", "plans.reinject",
                     "sources.http", "sources.wdqs"):
            m[f"{name}.s"] = tr.total(name) / (1 if name in probed else n)
        m["sources.cache.read_s"] = tr.total("sources.cache") / n
        m["sources.cache.entries"] = tr.counted("sources.cache",
                                                "entries") / n
        fetches = tr.counted("sources.http", "fetches")
        wdqs = tr.counted("sources.wdqs", "fetches")
        m["sources.http.fetches"] = fetches / n
        m["sources.http.useful_ratio"] = (
            tr.counted("sources.http", "hits") / fetches if fetches else 0.0)
        m["sources.http.fetch_busy_s"] = tr.counted(
            "sources.http", "fetch_busy_s") / n
        m["sources.http.jobs"] = tr.total("sources.http", "jobs") / n
        m["sources.wdqs.fetches"] = wdqs / n
        m["sources.api_calls_per_item"] = (fetches + wdqs) / n / len(
            self.corpus.rows)
        m["plans.reinject.files"] = tr.counted("plans.reinject", "files") / n
        out = self.expected.observed(self.out)
        for k in ("refs", "bytes_written"):
            m[f"plans.reinject.{k}"] = out[k]
        m["plans.resolve.hit_ratio"] = out["hit_ratio"]
        m["plans.enrich.values_kept_ratio"] = out["values_kept_ratio"]
        return m
