"""What the benchmark measures: workloads, metrics, units and bounds.

`python3 perfbench/spec.py` writes BENCHMARK.json at the repository root
from these tables. `operator_mix` runs with the same command but is not in
BENCHMARK.json: its runs do not fit the time a full set of runs may take
on a 4-core host (see README.md). The traced runs of `corpus_offline`
measure its layers instead.
"""

from __future__ import annotations

import json
import os
import sys

RUN_SECONDS = 5

WORKLOADS = [
    ("corpus_offline",
     "warm cache and recorded SPARQL: CPU-bound XML parse and rewrite, "
     "Python classification UDFs, cache join and windows; no network path"),
    ("corpus_live_sim",
     "empty cache, simulated search and WDQS with fixed latency: the wave "
     "loop, fetch dedup and cache upserts that the offline path bypasses"),
]

# (name, unit, better, bound); every workload reports every one. Runs on
# a shared 4-core host spread by 8-12% in pass time (interquartile range
# over ten seeds), hence the wide bounds. Peak memory spread by up to 25%,
# with the JVM's heap sizing, so it is a per-layer metric instead.
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("pipeline_s", "s", "lower", 0.25),
    ("items_per_s", "1/s", "higher", 0.25),
    ("query_s_p50", "s", "lower", 0.25),
]

CORPUS_LAYERS = [
    ("sources.tei.s", "s"), ("plans.nametable.s", "s"),
    ("sources.cache.read_s", "s"), ("sources.cache.entries", "count"),
    ("functions.classify.s", "s"),
    ("plans.resolve.s", "s"), ("plans.resolve.hit_ratio", "ratio"),
    ("sources.http.s", "s"), ("sources.http.fetches", "count"),
    ("sources.http.useful_ratio", "ratio"),
    ("sources.http.fetch_busy_s", "s"), ("sources.http.jobs", "count"),
    ("sources.wdqs.s", "s"), ("sources.wdqs.fetches", "count"),
    ("sources.api_calls_per_item", "calls/item"),
    ("plans.enrich.s", "s"), ("plans.enrich.values_kept_ratio", "ratio"),
    ("plans.reinject.s", "s"), ("plans.reinject.files", "count"),
    ("plans.reinject.refs", "count"), ("plans.reinject.bytes_written", "B"),
]

COMMON_LAYERS = [
    ("spark.jobs", "count"), ("spark.tasks", "count"), ("jvm.gc_s", "s"),
    ("jvm.peak_rss_mb", "MB"), ("workers.peak_pss_mb", "MB"),
    ("jvm.launch_s", "s"), ("trace.overhead_ratio", "ratio"),
]

_HIGHER = ("hit_ratio", "useful_ratio", "values_kept_ratio")


def end_to_end_units() -> list[tuple[str, str]]:
    return [(n, u) for n, u, _, _ in END_TO_END]


def per_layer() -> list[tuple[str, str]]:
    """Every traced run reports all of these; a layer the workload does not
    exercise reads 0."""
    from perfbench.opmix import MIX

    return (CORPUS_LAYERS
            + [(f"queries.{q}.s", "s") for q in sorted(MIX)]
            + [(f"operators.{m}.s", "s")
               for m in sorted(set(MIX.values()) - {"streaming"})]
            + [("streaming.s", "s")] + COMMON_LAYERS)


def benchmark_json() -> dict:
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOADS],
        "end_to_end": [{"name": n, "unit": u, "better": b, "bound": bound}
                       for n, u, b, bound in END_TO_END],
        "per_layer": [{"name": n, "unit": u, "better": "higher"
                       if n.endswith(_HIGHER) else "lower"}
                      for n, u in per_layer()],
    }


if __name__ == "__main__":
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, root)
    with open(os.path.join(root, "BENCHMARK.json"), "w") as f:
        json.dump(benchmark_json(), f, indent=2)
        f.write("\n")
