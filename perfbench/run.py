"""Benchmark runner.

    python3 perfbench/run.py --workload corpus_offline --seed 1 \
        --seconds 5 --trace 0

Run from the repository root. Generates the workload's inputs from the
seed under `.perfbench/`, starts Spark, sets up several times, then runs
passes for `--seconds`, checks every output outside the timed region, and
prints one JSON line: `correct`, `attempted`, `failed` and the metrics
(end-to-end with `--trace 0`, per-layer with `--trace 1`).

A corpus pass runs right after set-up, with no warm-up pass: each CLI
stage of the reference is a fresh process, so its users pay the first-pass
costs. The operator mix warms up first (with the sweep that checks every
query), because a query's first run can be ten times slower than later
ones. A traced run times the same pass as an untraced run, traced, then
an untraced, a traced and an untraced pass: the traced pass over the mean
of the two around it is the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

ROOT = os.getcwd()
SETUPS = 3

# (items, catalogues); the real corpus has 82,902 items in 409 catalogues
CORPUS = {"corpus_offline": (16_000, 80), "corpus_live_sim": (2_000, 10)}
WORKLOADS = (*CORPUS, "operator_mix")
# A traced run of this workload also traces the operator mix once (after a
# checked warm-up sweep), so that the operator and streaming layers are
# measured on a workload that BENCHMARK.json gates.
TRACED_ALSO = {"corpus_offline": "operator_mix"}


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _environment(work: str, cpus: int) -> None:
    """Set the variables the engine and its Python workers read."""
    mem_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 30
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_DRIVER_MEMORY"] = f"{max(1, min(4, mem_gb // 4))}g"
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    # the JVM's temporary files too (native-library extraction)
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"),
                    f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
                    "-XX:-UsePerfData") if p)


class RssSampler:
    """Peak resident memory of the Spark JVM and, apart, of its Python
    workers, sampled every 50 ms from /proc. The workers are forks of one
    daemon and share most of their pages, so each counts its proportional
    share (Pss); the JVM counts its resident set."""

    def __init__(self, pid: int):
        self.pid, self.peak_jvm_kb, self.peak_py_kb = pid, 0, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _children(self, pid: int) -> list[int]:
        out = []
        try:
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/children") as f:
                    for child in f.read().split():
                        out += [int(child), *self._children(int(child))]
        except OSError:
            pass
        return out

    def _kb(self, path: str, field: str) -> int:
        try:
            with open(path) as f:
                for line in f:
                    if line.startswith(field):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def _run(self) -> None:
        while not self._stop.wait(0.05):
            self.sample()

    def sample(self) -> None:
        jvm = self._kb(f"/proc/{self.pid}/status", "VmRSS:")
        py = sum(self._kb(f"/proc/{p}/smaps_rollup", "Pss:")
                 for p in self._children(self.pid))
        self.peak_jvm_kb = max(self.peak_jvm_kb, jvm)
        self.peak_py_kb = max(self.peak_py_kb, py)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()


def _identity(batches):
    yield from batches


def _setup(workload, cpus: int):
    """Session start plus warm-up: the Python worker daemon and its Arrow
    workers started, the workload's inputs touched. Returns (spark,
    seconds)."""
    from wde_spark.core.session import get_session

    t0 = time.perf_counter()
    spark = get_session(f"perfbench-{os.getpid()}", cpus=cpus)
    spark.range(cpus * 4, numPartitions=cpus) \
        .mapInPandas(_identity, "id long").write.format("noop") \
        .mode("overwrite").save()
    workload.touch(spark)
    return spark, time.perf_counter() - t0


def _stop_jvm() -> None:
    """Stop the gateway JVM (its Python workers exit with it) and wait."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    gw.proc.stdin.close()
    gw.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def _make_inputs(a, work: str, cpus: int):
    from perfbench.corpus import CorpusWorkload
    from perfbench.opmix import OperatorMix

    if a.workload == "operator_mix":
        return OperatorMix(work, a.seed)
    return CorpusWorkload(work, a.seed, a.workload == "corpus_live_sim",
                          *CORPUS[a.workload], cpus)


def run(a) -> dict:
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench",
                        f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _environment(work, cpus)
    sys.path.insert(0, ROOT)
    from pyspark import SparkContext

    from perfbench import spec
    from perfbench.opmix import OperatorMix
    from perfbench.trace import Tracer
    from wde_spark.core.session import get_session

    # the JVM launches while the inputs are generated (the benchmark's own
    # work, excluded from every metric); it is timed apart as jvm.launch_s.
    # Its first session is stopped at once, so that every set-up below
    # starts a session of its own.
    launch: dict = {}

    def start_jvm():
        t = time.perf_counter()
        get_session(f"perfbench-{os.getpid()}", cpus=cpus).stop()
        launch["s"] = time.perf_counter() - t

    jvm = threading.Thread(target=start_jvm)
    jvm.start()
    t = time.perf_counter()
    try:
        w = _make_inputs(a, work, cpus)
    finally:
        inputs_s = time.perf_counter() - t
        jvm.join()

    failed = attempted = 0
    check_s = 0.0
    calls: list[float] = []
    passes: list[tuple[bool, float, int]] = []  # (traced, seconds, items)

    def checked(check, n: int) -> None:
        """Run one output check (outside every timed region) over n units."""
        nonlocal attempted, failed, check_s
        t = time.perf_counter()
        problems = check()
        check_s += time.perf_counter() - t
        attempted += n
        failed += min(n, len(problems))
        for p in problems:
            print(f"WRONG: {p}", file=sys.stderr)

    try:
        with RssSampler(SparkContext._gateway.proc.pid) as rss:
            # each set-up starts a session in the running JVM; the first
            # also starts the Python workers cold
            setups = []
            for k in range(SETUPS):
                spark, s = _setup(w, cpus)
                setups.append(s)
                if k < SETUPS - 1:
                    spark.stop()
            tr = Tracer(spark, enabled=False)

            def timed_call(name, fn):
                t = time.perf_counter()
                fn()
                if not tr.enabled:  # traced calls are no end-to-end sample
                    calls.append(time.perf_counter() - t)

            def one_pass(traced: bool) -> None:
                tr.enabled = traced
                n_calls = len(calls)
                try:
                    with tr.span("pass"):
                        t = time.perf_counter()
                        info = w.run_pass(spark, tr, timed_call)
                        dt = time.perf_counter() - t
                except Exception:  # noqa: BLE001 - a failed pass is counted
                    traceback.print_exc()
                    checked(lambda: ["pass raised"], w.units)
                    del calls[n_calls:]
                    return
                finally:
                    tr.enabled = False
                passes.append((traced, dt, info["items"]))
                checked(lambda: [] if isinstance(w, OperatorMix)
                        else w.check_pass(spark), w.units)

            t = time.perf_counter()
            if isinstance(w, OperatorMix):
                # warm-up, untimed: the sweep that collects every query
                # for its oracle check
                checked(lambda: w.check_pass(spark), w.units)
            warm_s = time.perf_counter() - t

            if a.trace:
                one_pass(True)
                tr.enabled = True
                w.probes(spark, tr)
                tr.enabled = False
                first = next(s for s in tr.spans if s.name == "pass")
                layers = w.layer_metrics(tr)
                rss.sample()
                layers.update({
                    "spark.jobs": tr.inclusive(first, "jobs"),
                    "spark.tasks": tr.inclusive(first, "tasks"),
                    "jvm.gc_s": first.gc_s,
                    # peaks over the set-ups and the first traced pass
                    "jvm.peak_rss_mb": rss.peak_jvm_kb / 1024,
                    "workers.peak_pss_mb": rss.peak_py_kb / 1024,
                })
                # passes still speed up after the first, so the traced pass
                # is compared with the untraced passes on either side of it
                one_pass(False)
                one_pass(True)
                one_pass(False)
                if a.workload in TRACED_ALSO:
                    mix = OperatorMix(os.path.join(work, "mix"), a.seed)
                    checked(lambda: mix.check_pass(spark), mix.units)
                    tr.enabled = True
                    mix.run_pass(spark, tr, lambda name, fn: fn())
                    tr.enabled = False
                    layers.update(mix.layer_metrics(tr))
                tr.dump(os.path.join(ROOT, ".perfbench",
                                     f"spans-{a.workload}-{a.seed}.jsonl"))
            else:
                deadline = time.perf_counter() + a.seconds
                one_pass(False)
                while time.perf_counter() < deadline:
                    one_pass(False)
            spark.stop()
    finally:
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)

    print(f"perfbench: {a.workload} seed={a.seed} inputs={inputs_s:.3f} "
          f"jvm={launch['s']:.3f} checks={check_s:.3f} setups="
          f"{[round(x, 3) for x in setups]} warm-up={warm_s:.3f} passes="
          f"{[(int(t), round(dt, 3)) for t, dt, _ in passes]} "
          f"calls={len(calls)} rss_mb(jvm,workers)="
          f"{rss.peak_jvm_kb >> 10},{rss.peak_py_kb >> 10}", file=sys.stderr)
    plain = [(dt, n) for traced, dt, n in passes if not traced]
    if not plain:
        raise RuntimeError("no pass completed")
    if not a.trace:
        values = {
            "setup_s": statistics.median(setups),
            "pipeline_s": statistics.median(dt for dt, _ in plain),
            "items_per_s": sum(n for _, n in plain) / sum(dt for dt, _ in
                                                           plain),
            "query_s_p50": statistics.median(calls),
        }
        names = spec.end_to_end_units()
    else:
        traced = [dt for t, dt, _ in passes if t]
        values = dict(layers)
        values["jvm.launch_s"] = launch["s"]
        values["trace.overhead_ratio"] = traced[-1] / statistics.mean(
            dt for dt, _ in plain[-2:])
        names = spec.per_layer()
    # a layer the workload does not exercise reads 0
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {n: {"value": float(values.get(n, 0.0)), "unit": u}
                        for n, u in names}}


def main(argv=None) -> int:
    a = _args(sys.argv[1:] if argv is None else argv)
    if not os.path.isfile(os.path.join(ROOT, "wde_spark", "__init__.py")):
        print("perfbench: run from the repository root (wde_spark/ not "
              "found)", file=sys.stderr)
        return 2
    print(json.dumps(run(a)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
