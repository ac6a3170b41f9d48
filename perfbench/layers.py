"""Per-layer report of a traced run.

Every number is "per warm pass": for each query, the median over its
timed executions, summed over the workload's queries (the same fold as
``pass_s``). First-pass and warm-up executions are left out because
they differ: the first pass plans, compiles and lists files that later
passes reuse, so its job counts are higher (README.md, "Warm counts").

The final stdout line carries every layer, each workload's own and the
ones it bypasses (those read 0). Per-function and per-query figures go
to the ``detail`` line and the run's result file.
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict

import eventlog

UNITS = {
    "setup.get_spark_s": "s",
    "setup.registry_import_s": "s",
    "queries.build_s": "s",
    "engine.jobs": "count",
    "engine.stages": "count",
    "engine.tasks": "count",
    "engine.failed_tasks": "count",
    "engine.driver_gap_s": "s",
    "executor.run_s": "s",
    "executor.cpu_s": "CPU-s",
    "executor.gc_s": "s",
    "executor.task_skew": "ratio",
    "shuffle.write_mb": "MB",
    "shuffle.read_mb": "MB",
    "shuffle.spill_mb": "MB",
    "sources.tbl_calls": "count",
    "sources.tbl_s": "s",
    "operators.similarity_s": "s",
    "operators.pca_s": "s",
    "operators.graph_s": "s",
    "pyworker.cpu_s": "CPU-s",
    "sink.write_s": "s",
    "sink.read_plan_s": "s",
    "process.cpu_s": "CPU-s",
    "jvm.gc_s": "s",
    "jvm.jit_s": "s",
    "jvm.heap_peak_mb": "MB",
    "memory.peak_rss_mb": "MB",
}


def _per_pass(rows: list[tuple[str, float]]) -> float:
    by_q: dict[str, list[float]] = defaultdict(list)
    for q, v in rows:
        by_q[q].append(v)
    return sum(statistics.median(v) for v in by_q.values())


def _children(spans: list[dict]) -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for i, s in enumerate(spans):
        if s["parent"] is not None:
            kids[s["parent"]].append(i)
    return kids


def _sink_files(dirs: list[str]) -> tuple[int, int, int]:
    """(data files, bytes, rows) under sink table directories; metadata
    (``_txn`` manifests, checkpoints, deletion-vector sidecars under
    ``_``-prefixed directories) is not user data and is skipped."""
    import pyarrow.parquet as pq

    files = size = rows = 0
    for top in dirs:
        for d, subdirs, names in os.walk(top):
            subdirs[:] = [s for s in subdirs if not s.startswith(("_", "."))]
            for n in names:
                if n.startswith(("_", ".")) or n.endswith(".crc"):
                    continue
                p = os.path.join(d, n)
                files += 1
                size += os.path.getsize(p)
                if n.endswith(".parquet"):
                    rows += pq.read_metadata(p).num_rows
                else:
                    with open(p, "rb") as f:
                        rows += sum(1 for _ in f)
    return files, size, rows


def report(records, spans, trace_dir, result, heap_mb):
    """(final-line metrics, detail) of a traced run; also writes every
    span, the engine's job and stage spans included, to spans.jsonl."""
    groups = eventlog.fold(eventlog.read_events(trace_dir))
    kids = _children(spans)
    for r in records:
        g = groups.get(r["group"]) or eventlog.new_group()
        q = r["span"]
        qi = q["id"]
        # hang the engine's jobs and stages under the query's span
        for lo, hi in g["job_spans"]:
            spans.append({"name": "job", "layer": "spark.job", "start": lo, "end": hi,
                          "parent": qi, "pass": r["pass"], "query": r["query"]})
        for lo, hi in g["stage_spans"]:
            spans.append({"name": "stage", "layer": "spark.stage", "start": lo, "end": hi,
                          "parent": qi, "pass": r["pass"], "query": r["query"]})
        r["engine"] = g
        mods = [spans[i] for i in _descendants(kids, qi) if spans[i]["layer"]]
        for key, kind in (("layer_s", float), ("layer_calls", int), ("fn_s", float), ("fn_n", int)):
            r[key] = defaultdict(kind)
        for s in mods:
            r["fn_s"][s["name"]] += s["end"] - s["start"]
            r["fn_n"][s["name"]] += 1
            if s["outer"]:
                r["layer_s"][s["layer"]] += s["end"] - s["start"]
                r["layer_calls"][s["layer"]] += 1
        r["driver_gap"] = eventlog.driver_gap(q["start"], q["end"], g["stage_spans"])
        build = next(spans[i] for i in kids[qi] if spans[i]["name"] == "build")
        r["self"] = {
            "query": eventlog.self_time(q["start"], q["end"],
                                        [(build["start"], build["end"]), *g["job_spans"]]),
            "build": eventlog.self_time(build["start"], build["end"],
                                        [(s["start"], s["end"]) for s in mods if s["outer"]]),
            "job": eventlog.union_length(g["job_spans"])
            - eventlog.union_length(g["stage_spans"]),
            "stage": eventlog.union_length(g["stage_spans"]),
        }
    ok = [r for r in records if r.get("wall") is not None]
    warm = [r for r in ok if r["timed"]]

    def fold(value) -> float:
        return _per_pass([(r["query"], value(r)) for r in warm])

    eng = lambda k: fold(lambda r: r["engine"][k])  # noqa: E731
    layers = {
        "setup.get_spark_s": result["setup"]["get_spark_s"],
        "setup.registry_import_s": result["setup"]["registry_import_s"],
        "queries.build_s": fold(lambda r: r["build"]),
        "engine.jobs": eng("jobs"),
        "engine.stages": eng("stages"),
        "engine.tasks": eng("tasks"),
        "engine.failed_tasks": eng("failed_tasks"),
        "engine.driver_gap_s": fold(lambda r: r["driver_gap"]),
        "executor.run_s": eng("run_s"),
        "executor.cpu_s": eng("cpu_s"),
        "executor.gc_s": eng("gc_s"),
        "executor.task_skew": eventlog.task_skew(
            [t for r in warm for t in r["engine"]["stage_task_run_ms"]]
        ) or 1.0,
        "shuffle.write_mb": eng("shuffle_write_b") / 1e6,
        "shuffle.read_mb": eng("shuffle_read_b") / 1e6,
        "shuffle.spill_mb": eng("spill_b") / 1e6,
        "sources.tbl_calls": fold(lambda r: r["layer_calls"]["sources.tbl"]),
        "sources.tbl_s": fold(lambda r: r["layer_s"]["sources.tbl"]),
        **{f"operators.{m}_s": fold(lambda r, m=m: r["layer_s"][f"operators.{m}"])
           for m in ("similarity", "pca", "graph")},
        "pyworker.cpu_s": fold(lambda r: r["pycpu"]),
        **{f"sink.{part}_s": fold(lambda r, part=part: r["layer_s"][f"sink.{part}"])
           for part in ("write", "read_plan")},
        "process.cpu_s": result["e2e"]["cpu_s"],
        "jvm.gc_s": fold(lambda r: r["jvm_gc"]),
        "jvm.jit_s": fold(lambda r: r["jvm_jit"]),
        "jvm.heap_peak_mb": heap_mb,
        "memory.peak_rss_mb": result["peak_rss_mb"],
    }
    detail: dict[str, float] = {}
    for q in sorted({r["query"] for r in warm}):
        mine = [r for r in warm if r["query"] == q]
        first = [r for r in ok if r["query"] == q and r["pass"] == 0]
        detail[f"{q}.wall_s"] = statistics.median(r["wall"] for r in mine)
        detail[f"{q}.jobs"] = statistics.median(r["engine"]["jobs"] for r in mine)
        if first:
            detail[f"{q}.first_pass_jobs"] = first[0]["engine"]["jobs"]
        join_rows = statistics.median(r["engine"]["join_rows"] for r in mine)
        if join_rows and mine[0]["rows"]:
            detail[f"{q}.pairs_per_result"] = join_rows / mine[0]["rows"]
    names = sorted({n for r in warm for n in r["fn_s"] if not n.startswith("tables.")})
    for n in names:
        module, fn = n.split(".", 1)
        prefix = "sink.fn" if module == "pysink" else "operators"
        detail[f"{prefix}.{fn}.calls"] = fold(lambda r: r["fn_n"][n])
        detail[f"{prefix}.{fn}.s"] = fold(lambda r: r["fn_s"][n])
    if any(n.startswith("similarity.") for n in names):
        pairs = [(r["engine"]["join_rows"], r["rows"]) for r in warm if r["engine"]["join_rows"]]
        if pairs:
            detail["similarity.pairs_per_result"] = sum(a for a, _ in pairs) / max(1, sum(b for _, b in pairs))
    if any(n.startswith("pysink.") for n in names):
        for part in ("dml", "checkpoint"):
            detail[f"sink.{part}_s"] = fold(lambda r: r["layer_s"][f"sink.{part}"])
        dirs = [d for r in warm for d in r.get("sink_dirs", ())]
        files, size, rows = _sink_files(dirs)
        n_warm = max(1, len({r["pass"] for r in warm}))
        detail["sink.files"] = files / n_warm
        detail["sink.bytes_per_row"] = size / rows if rows else 0.0
    for part in ("query", "build", "job", "stage"):
        detail[f"self.{part}_s"] = fold(lambda r: r["self"][part])
    with open(os.path.join(trace_dir, "spans.jsonl"), "w") as f:
        for s in spans:
            f.write(json.dumps(s) + "\n")
    return layers, detail


def _descendants(kids: dict[int, list[int]], root: int) -> list[int]:
    out, todo = [], list(kids.get(root, ()))
    while todo:
        i = todo.pop()
        out.append(i)
        todo.extend(kids.get(i, ()))
    return out
