"""Operator-mix workload: nine fixed registry queries, one client in a
closed loop, each result written to the `noop` sink. The seed fixes the
generated tables and the order of the queries in a sweep.

One query per operator module and two for streaming (windows and the
change-feed ledger): a query costs about as much again in the warm-up
sweep that checks it, and every run of every workload has to fit the
benchmark's time budget.
"""

from __future__ import annotations

import os
import random

from . import check, gen

# query -> layer it exercises: the wde_spark module it calls, `streaming`
# for the streaming windows and ledgers, `core` for plain DataFrame SQL
MIX = {
    "q1_pricing_summary": "core",
    "asof_join_purchase_view": "relational",
    "resolve_ladder_parts": "resolve",
    "word_count_top100": "textstats",
    "neardup_lsh_verified": "dedup",
    "cosine_topk_embeddings": "similarity",
    "jpeg_color_documents": "multimodal",
    "session_events": "streaming",
    "ledger_change_feed_documents": "streaming",
}

SCALE = 0.01


class OperatorMix:
    def __init__(self, work: str, seed: int):
        self.data = os.path.join(work, "tables")
        gen.write_tables(self.data, seed, SCALE)
        self.order = sorted(MIX)
        random.Random(seed).shuffle(self.order)
        self.units = len(self.order)  # each query is checked on its own

    def touch(self, spark) -> None:
        """Set-up warm-up: resolve every table's schema."""
        from wde_spark.core.catalog import TABLES, load_table

        for t in TABLES:
            load_table(spark, self.data, t).schema

    def run_pass(self, spark, tr, timed_call) -> dict:
        from wde_spark.queries import QUERIES

        def one(name):
            def go():
                with tr.span(f"queries.{name}"):
                    QUERIES[name](spark, self.data).write.format("noop") \
                        .mode("overwrite").save()
            return go

        for name in self.order:
            try:
                timed_call(name, one(name))
            finally:
                spark.catalog.clearCache()
        return {"items": len(self.order)}

    def check_pass(self, spark) -> list[str]:
        """Collect every query once and compare with its DuckDB oracle."""
        from wde_spark.queries import QUERIES

        oracle = check.Oracle(self.data)
        bad = []
        try:
            for name in self.order:
                df = QUERIES[name](spark, self.data)
                rows = [tuple(r) for r in df.collect()]
                bad += oracle.problems(name, df.columns, rows)
                spark.catalog.clearCache()
        finally:
            oracle.close()
        return bad

    def probes(self, spark, tr) -> None:
        """Every query runs inside its own span already."""

    def layer_metrics(self, tr) -> dict:
        """Seconds per traced run of each query, rolled up by layer."""
        m = {}
        for name, layer in MIX.items():
            runs = len([s for s in tr.spans if s.name == f"queries.{name}"])
            s = tr.total(f"queries.{name}") / max(1, runs)
            m[f"queries.{name}.s"] = s
            key = "streaming.s" if layer == "streaming" \
                else f"operators.{layer}.s"
            m[key] = m.get(key, 0.0) + s
        return m
