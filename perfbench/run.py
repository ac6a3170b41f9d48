#!/usr/bin/env python3
"""Engine benchmark: one workload per fresh process, every result checked.

    python3 perfbench/run.py --workload iterative --seed 1 --seconds 25 --trace 0

Run it from the root of a checkout. It reads the fixture tables kept
in ``perfbench/fixtures/sf0.01/``, starts the engine as
``local[nproc-1]``, and then, one query at a time (a closed loop with
one client):

1. set-up: JVM launch + ``session.get_spark`` + registry import;
2. the DuckDB oracle results (not timed);
3. a first pass over the workload's queries in a fresh session;
4. untimed warm-up passes (``WARMUP_PASSES``), while the JIT still
   compiles the engine's hot paths;
5. timed warm passes for ``--seconds``: at least ``MIN_TIMED_PASSES``,
   and no pass that would end past the window.

``--seed`` permutes the query order of every warm pass. Each execution's
timed action is the ``collect()`` that produces the rows which are then
checked. With ``--trace 1`` Spark's event log is switched on from
outside and the run reports per-layer metrics instead (README.md).

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed``, ``metrics``. A wrong or failed result exits with code 1.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shlex
import statistics
import subprocess
import sys
import time
from contextlib import nullcontext

sys.dont_write_bytecode = True
BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH_DIR)

import procfs  # noqa: E402

PACKAGE = "mapreduceframework_cpp_spark"
OUT = os.path.join(BENCH_DIR, "out")

#: The queries each workload runs, and why (README.md has the full table).
WORKLOADS = {
    # executor-side work: pair scoring in operators/similarity.py (JVM
    # tasks) and the batch write path of sources/pysink.py (Python
    # workers stage files, the driver commits a manifest, the read plans
    # from the manifest fold)
    "similarity_sink": ["q_sim_topk", "q_dedup_embedding", "q_sink_python"],
    # driver/scheduler bound: eager per-round jobs in operators/pca.py
    # and operators/graph.py
    "iterative": ["q_emb_pca_top", "q_graph_pagerank"],
}

#: Untimed passes after the first pass. The first warm pass still
#: carries much of the JIT's compile work (iterative: 30-33 CPU-s against
#: 23 in the next), and how fast that work runs depends on the host's
#: load more than the engine's. README.md, "A run".
WARMUP_PASSES = 1

#: Input tables: the engine's fixture data at sf 0.01 (seed 42), the
#: three tables these queries read, copied unchanged. They are the same
#: for every run, so only the query order follows --seed.
SF = 0.01
DATA_DIR = os.path.join(BENCH_DIR, "fixtures", "sf0.01")

#: pass_s and cpu_s are per-query medians over at least this many timed
#: executions
MIN_TIMED_PASSES = 3

E2E_UNITS = {
    "setup_s": "s", "first_pass_s": "s", "pass_s": "s",
    "ok_rate": "share",
}


def engine_cores() -> int:
    """local[nproc-1]: one core stays free for the driver's Python, the
    JIT and GC threads, which otherwise compete with task slots."""
    return max(1, (os.cpu_count() or 2) - 1)


def source_rev(root: str) -> str:
    """Hash of the engine and benchmark sources and of the input tables
    (the checkout the benchmark runs in need not be a git repository)."""
    import hashlib

    h = hashlib.sha256()
    for base in (PACKAGE, os.path.relpath(BENCH_DIR, root), "tests/_compare.py"):
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f)
            for d, dirs, files in os.walk(base)
            if "out" not in os.path.relpath(d, base).split(os.sep)
            for f in files if f.endswith((".py", ".parquet"))
        )
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:12]


def stamp(args, root: str) -> dict:
    return {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "rev": source_rev(root), "nproc": os.cpu_count(),
        "engine_cores": engine_cores(), "sf": SF,
    }


def _env(trace_dir: str | None) -> None:
    """Keep every file the engine writes inside the output directory and
    turn the event log on from outside the package when tracing."""
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(OUT, "warehouse"),
        # -UsePerfData here and for the launcher JVM: no hsperfdata file in
        # /tmp (it holds monitoring counters only)
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if trace_dir:
        os.makedirs(trace_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": trace_dir,
            "spark.eventLog.compress": "false",
        })
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(engine_cores()),
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(OUT, "spark-local"),
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "PYTHONDONTWRITEBYTECODE": "1",
        "PYSPARK_SUBMIT_ARGS": " ".join(
            f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()
        ) + " pyspark-shell",
    })


class Run:
    """One benchmark run: the session, the checks and every execution."""

    def __init__(self, spark, queries, data_dir, oracle, tracer):
        self.spark, self.queries, self.data_dir = spark, queries, data_dir
        self.oracle, self.tracer = oracle, tracer
        self.records: list[dict] = []

    def _jvm_gc_s(self) -> float:
        mf = self.spark.sparkContext._jvm.java.lang.management.ManagementFactory
        return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1e3

    def _jvm_jit_s(self) -> float:
        mf = self.spark.sparkContext._jvm.java.lang.management.ManagementFactory
        return mf.getCompilationMXBean().getTotalCompilationTime() / 1e3

    def jvm_heap_peak_mb(self) -> float:
        mf = self.spark.sparkContext._jvm.java.lang.management.ManagementFactory
        return sum(
            p.getPeakUsage().getUsed() for p in mf.getMemoryPoolMXBeans()
            if str(p.getType()) == "Heap memory"
        ) / 1e6

    def execute(self, name: str, pass_no: int, timed: bool) -> dict:
        from mapreduceframework_cpp_spark.operators.common import release_persisted

        group = f"pb:{pass_no}:{name}"
        self.spark.sparkContext.setJobGroup(group, name)
        tracing = self.tracer is not None
        if tracing:
            self.tracer.ids = {"pass": pass_no, "query": name}
            gc0, jit0 = self._jvm_gc_s(), self._jvm_jit_s()
            tmp_before = set(os.listdir(os.environ["TMPDIR"]))
        cpu0, py0 = procfs.cpu_s()
        rec = {"query": name, "pass": pass_no, "timed": timed, "group": group, "rows": 0}
        span = self.tracer.span(name, "") if tracing else nullcontext({})
        try:
            with span as s:
                t0 = time.perf_counter()
                build = self.tracer.span("build", "") if tracing else nullcontext()
                with build:
                    df = self.queries[name](self.spark, self.data_dir)
                t1 = time.perf_counter()
                rows = [tuple(r) for r in df.collect()]
                t2 = time.perf_counter()
            # CPU up to the end of the collect, before the check's own work
            cpu1, py1 = procfs.cpu_s()
            rec.update(wall=t2 - t0, build=t1 - t0, rows=len(rows))
            rec["error"] = self.oracle.check(name, list(df.columns), rows)
        except Exception as e:  # a failing query is a counted failure, not a crash
            cpu1, py1 = procfs.cpu_s()
            rec.update(wall=None, build=None, error=f"{type(e).__name__}: {e}"[:300])
        rec.update(cpu=cpu1 - cpu0, pycpu=py1 - py0)
        if tracing:
            new = set(os.listdir(os.environ["TMPDIR"])) - tmp_before
            rec.update(span=s, jvm_gc=self._jvm_gc_s() - gc0, jvm_jit=self._jvm_jit_s() - jit0, sink_dirs=[
                os.path.join(os.environ["TMPDIR"], d) for d in new if d.startswith("graft_sink_")
            ])
        release_persisted()
        # each query starts from a collected heap, so one query's garbage
        # adds to neither the next query's time nor the run's peak RSS
        self.spark.sparkContext._jvm.java.lang.System.gc()
        self.records.append(rec)
        return rec


def timed(records: list[dict]) -> list[dict]:
    return [r for r in records if r["timed"]]


def per_pass(records: list[dict], value) -> float:
    """Sum over queries of the median of ``value`` over that query's timed
    executions: the cost of one typical warm pass."""
    by_q: dict[str, list[float]] = {}
    for r in timed(records):
        by_q.setdefault(r["query"], []).append(value(r))
    return sum(statistics.median(v) for v in by_q.values())


def shutdown(spark) -> None:
    """Stop the session, the JVM and its Python workers; wait for each."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 15
    while len(procfs.tree()) > 1 and time.time() < deadline:
        time.sleep(0.1)
    for pid in procfs.tree()[1:]:
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


def run(args, root: str) -> dict:
    names = WORKLOADS[args.workload]
    rng = random.Random(args.seed)
    trace_dir = os.path.join(OUT, "eventlog", f"{args.workload}-{args.seed}-{os.getpid()}") if args.trace else None
    _env(trace_dir)
    data_dir = DATA_DIR
    with procfs.PeakRss() as rss:
        t0 = time.perf_counter()
        from mapreduceframework_cpp_spark.session import get_spark

        spark = get_spark("perfbench")
        t1 = time.perf_counter()
        from mapreduceframework_cpp_spark.registry import all_oracles, all_queries

        queries = all_queries()
        t2 = time.perf_counter()
        spark.sparkContext.setLogLevel("ERROR")
        import checks

        oracle = checks.Oracle(data_dir, all_oracles(), names, os.path.join(OUT, "oracle"))
        tracer = None
        if args.trace:
            import tracer as trace_mod

            tracer = trace_mod.Tracer()
            trace_mod.install(tracer)
        bench = Run(spark, queries, data_dir, oracle, tracer)
        # the first pass keeps the listed order: the query that runs first
        # pays the session's one-time costs (Python workers, JIT), and a
        # seed-dependent choice of it moved later passes by up to 25%
        for name in names:
            bench.execute(name, 0, timed=False)
        pass_no = 0
        for _ in range(WARMUP_PASSES):
            pass_no += 1
            for name in rng.sample(names, len(names)):
                bench.execute(name, pass_no, timed=False)
        start, lengths, host0 = time.perf_counter(), [], procfs.host_ticks()
        while True:
            pass_no += 1
            t = time.perf_counter()
            for name in rng.sample(names, len(names)):
                bench.execute(name, pass_no, timed=True)
            lengths.append(time.perf_counter() - t)
            # stop before a pass that would end past the window
            if (len(lengths) >= MIN_TIMED_PASSES and
                    time.perf_counter() - start + statistics.median(lengths) > args.seconds):
                break
        busy, stolen = (b - a for a, b in zip(host0, procfs.host_ticks()))
        heap_mb = bench.jvm_heap_peak_mb() if tracer else None
        if tracer:
            tracer.close()
        shutdown(spark)
    recs = bench.records
    ok = [r for r in recs if r["error"] is None]
    result = {
        "stamp": stamp(args, root),
        "setup": {"get_spark_s": t1 - t0, "registry_import_s": t2 - t1},
        "e2e": {
            "setup_s": t2 - t0,
            "first_pass_s": sum(r["wall"] or 0 for r in recs if r["pass"] == 0),
            "pass_s": per_pass(recs, lambda r: r["wall"] or 0),
            "cpu_s": per_pass(recs, lambda r: r["cpu"]),
            "ok_rate": len(ok) / len(recs),
        },
        "peak_rss_mb": rss.peak,
        # the host's share in the noise: how much of the machine's busy
        # time during the timed passes the hypervisor gave to others
        "host_steal_share": stolen / max(1, busy + stolen),
        "timed_runs": {q: sum(r["query"] == q for r in timed(recs)) for q in names},
        "failures": {r["query"]: r["error"] for r in recs if r["error"]},
        "attempted": len(recs),
        "failed": len(recs) - len(ok),
    }
    if tracer:
        import layers

        result["layers"], result["detail"] = layers.report(
            recs, tracer.spans, trace_dir, result, heap_mb
        )
    return result


def _results_path(st: dict, trace: int) -> str:
    name = f"{st['workload']}-seed{st['seed']}-trace{trace}-{st['rev']}-{os.getpid()}.json"
    return os.path.join(OUT, "results", name)


def untraced_pass_s(args, root: str) -> float | None:
    """Median pass_s of the untraced runs kept under out/results whose
    stamp equals this run's except for the seed, which only reorders
    queries; None if there is none. A traced run does not make one
    itself: the two runs together could pass the 180 s a run may take."""
    st = {k: v for k, v in stamp(args, root).items() if k != "seed"}
    folder = os.path.join(OUT, "results")
    found = []
    for f in sorted(os.listdir(folder)) if os.path.isdir(folder) else ():
        if f.startswith(f"{args.workload}-") and "-trace0-" in f:
            with open(os.path.join(folder, f)) as fh:
                rec = json.load(fh)
            if {k: v for k, v in rec["stamp"].items() if k != "seed"} == st and not rec["failures"]:
                found.append(rec["e2e"]["pass_s"])
    return statistics.median(found) if found else None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    root = os.getcwd()
    missing = [p for p in (PACKAGE, "tests/_compare.py") if not os.path.exists(os.path.join(root, p))]
    if missing:
        print(f"run from the root of an engine checkout: missing {missing}", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    base = untraced_pass_s(args, root) if args.trace else None
    result = run(args, root)
    if args.trace:
        # traced over untraced pass_s, minus 1: the cost of tracing
        result["detail"]["trace.overhead_share"] = (
            result["e2e"]["pass_s"] / base - 1 if base else "no untraced run with this stamp yet"
        )
    path = _results_path(result["stamp"], args.trace)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(result, f, indent=1, default=str)
    e2e = result["e2e"]
    print(f"stamp {json.dumps(result['stamp'], sort_keys=True)}")
    for name, unit in E2E_UNITS.items():
        print(f"{name:>13} {e2e[name]:12.4f} {unit}")
    print(f"{'cpu_s':>13} {e2e['cpu_s']:12.4f} CPU-s (per-layer process.cpu_s)")
    print(f"{'peak_rss_mb':>13} {result['peak_rss_mb']:12.4f} MB (per-layer memory.peak_rss_mb)")
    print(f"pass_s samples: timed executions per query {result['timed_runs']}; "
          f"attempted {result['attempted']}, failed {result['failed']}")
    print(f"host steal share over the timed passes: {result['host_steal_share']:.4f}")
    for q, err in result["failures"].items():
        print(f"FAILED {q}: {err}", file=sys.stderr)
    if args.trace:
        print("detail " + json.dumps(result["detail"], sort_keys=True))
        import layers

        metrics = {k: {"value": v, "unit": layers.UNITS[k]} for k, v in result["layers"].items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
    print(json.dumps({
        "correct": not result["failures"], "attempted": result["attempted"],
        "failed": result["failed"], "metrics": metrics,
    }))
    return 1 if result["failures"] else 0


if __name__ == "__main__":
    sys.exit(main())
