#!/usr/bin/env python3
"""Steadiness and comparison of benchmark runs.

Run one workload many times, each in a fresh untraced process with its
own seed (1, 2, ...), and print each metric's median, quartiles, quartile spread as a share
of the median, and max/min ratio:

    python3 perfbench/steady.py run --workload iterative --runs 10 --seconds 25

The summary is saved to ``perfbench/out/steady/`` together with every
run's final line. Compare two such summaries (for example a parent
commit and a change):

    python3 perfbench/steady.py compare A.json B.json

``compare`` refuses summaries whose stamps differ in anything but the
source revision: a different core count, engine width, scale, run
length or seed list makes the numbers incomparable.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
OUT = os.path.join(BENCH_DIR, "out", "steady")


def summarize(values: list[float]) -> dict:
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else values * 3
    med = statistics.median(values)
    lo, hi = min(values), max(values)
    return {
        "n": len(values), "median": med, "q1": q1, "q3": q3,
        "iqr_share": (q3 - q1) / med if med else 0.0,
        "max_min": hi / lo if lo else None,
    }


def run_many(args) -> dict:
    runs, stamps = [], []
    for i in range(args.runs):
        seed = 1 + i
        cmd = [sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload", args.workload,
               "--seed", str(seed), "--seconds", str(args.seconds), "--trace", "0"]
        t = time.perf_counter()
        p = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            sys.stderr.write(p.stderr[-3000:])
            raise SystemExit(f"seed {seed}: exit {p.returncode}")
        final = json.loads(lines[-1])
        stamps.append(json.loads(next(ln for ln in lines if ln.startswith("stamp "))[6:]))
        final["seed"], final["wall_s"] = seed, time.perf_counter() - t
        final["steal"] = float(next(ln for ln in lines if ln.startswith("host steal")).split()[-1])
        runs.append(final)
        print(f"seed {seed}: {final['wall_s']:.1f} s steal={final['steal']:.3f} " + " ".join(
            f"{k}={m['value']:.4g}" for k, m in final["metrics"].items()), flush=True)
    base = {k: v for k, v in stamps[0].items() if k != "seed"}
    if any({k: v for k, v in s.items() if k != "seed"} != base for s in stamps):
        raise SystemExit("runs carry different stamps; not summarizing")
    metrics = sorted(runs[0]["metrics"])
    out = {
        "stamp": {**base, "seeds": [r["seed"] for r in runs]},
        "metrics": {
            m: {**summarize([r["metrics"][m]["value"] for r in runs]),
                "unit": runs[0]["metrics"][m]["unit"]}
            for m in metrics
        },
        "run_wall_s": summarize([r["wall_s"] for r in runs]),
        "runs": runs,
    }
    os.makedirs(OUT, exist_ok=True)
    path = os.path.join(OUT, f"{args.workload}-{base['rev']}-{int(time.time())}.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print_summary(out)
    print_bounds(out)
    print(f"saved {path}")
    return out


def print_bounds(s: dict) -> None:
    """Each end-to-end spread against its bound in BENCHMARK.json; the
    target is a spread below a third of the bound."""
    path = os.path.join(os.path.dirname(BENCH_DIR), "BENCHMARK.json")
    if not os.path.exists(path):
        return
    with open(path) as f:
        bounds = {m["name"]: m["bound"] for m in json.load(f)["end_to_end"]}
    for m, bound in bounds.items():
        if m in s["metrics"]:
            spread = s["metrics"][m]["iqr_share"]
            verdict = "ok" if spread < bound / 3 else "WIDE"
            print(f"bound {m:<14} spread {spread:.3f} bound {bound:.2f} {verdict}")


def print_summary(s: dict) -> None:
    print(f"{'metric':<26}{'unit':>7}{'median':>12}{'q1':>12}{'q3':>12}{'iqr/med':>9}{'max/min':>9}")
    for m, v in {**s["metrics"], "run_wall_s": {**s["run_wall_s"], "unit": "s"}}.items():
        mm = f"{v['max_min']:.3f}" if v["max_min"] else "-"
        print(f"{m:<26}{v['unit']:>7}{v['median']:>12.4f}{v['q1']:>12.4f}{v['q3']:>12.4f}"
              f"{v['iqr_share']:>9.3f}{mm:>9}")


def compare(a_path: str, b_path: str) -> int:
    with open(a_path) as f:
        a = json.load(f)
    with open(b_path) as f:
        b = json.load(f)
    sa = {k: v for k, v in a["stamp"].items() if k != "rev"}
    sb = {k: v for k, v in b["stamp"].items() if k != "rev"}
    if sa != sb:
        diff = sorted(k for k in sa.keys() | sb.keys() if sa.get(k) != sb.get(k))
        print(f"refusing to compare: stamps differ in {diff}", file=sys.stderr)
        return 2
    print(f"{'metric':<26}{'A median':>12}{'B median':>12}{'B/A':>8}{'A iqr/med':>11}")
    for m in sorted(a["metrics"].keys() & b["metrics"].keys()):
        ma, mb = a["metrics"][m]["median"], b["metrics"][m]["median"]
        ratio = f"{mb / ma:.3f}" if ma else "-"
        print(f"{m:<26}{ma:>12.4f}{mb:>12.4f}{ratio:>8}{a['metrics'][m]['iqr_share']:>11.3f}")
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--workload", required=True)
    r.add_argument("--runs", type=int, default=10)
    r.add_argument("--seconds", type=float, required=True)
    c = sub.add_parser("compare")
    c.add_argument("a")
    c.add_argument("b")
    args = ap.parse_args()
    if args.cmd == "compare":
        return compare(args.a, args.b)
    run_many(args)
    return 0


if __name__ == "__main__":
    sys.exit(main())
