#!/usr/bin/env python
"""Dump ``explain("formatted")`` for named headline queries to text
files — the evidence artifact the optimization rounds commit under
``plans/rNN/`` (the judge cannot run Spark; these files are how plan
claims are checked against the code).

Usage::

    python tools/plan_dump.py --out plans/r14 --suffix before q_a q_b ...

Runs under the SAME engine session as bench.py (RUNTIME_CONFS applied),
so the dumped initial plans match what the bench executes. Note these
are pre-execution plans (``isFinalPlan=false``); AQE runtime rewrites
(coalesced reads, demoted joins, reused exchanges) only show in the
post-run plan — use --execute to run the query first and dump the
FINAL adaptive plan instead.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--out", default="plans/r14")
    ap.add_argument("--suffix", default="before")
    ap.add_argument(
        "--execute", action="store_true",
        help="run the query first and dump the final "
        "adaptive plan, not the initial one",
    )
    args = ap.parse_args()

    from mapreduceframework_cpp_spark.operators.common import release_persisted
    from mapreduceframework_cpp_spark.registry import all_queries
    from mapreduceframework_cpp_spark.session import get_spark

    qs = all_queries()
    unknown = [name for name in args.queries if name not in qs]
    if unknown:
        ap.error(
            f"unknown query name(s): {', '.join(unknown)}; valid names: "
            + ", ".join(sorted(qs))
        )

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("plan-dump")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(args.out, exist_ok=True)
    for name in args.queries:
        df = qs[name](spark, sf_dir)
        if args.execute:
            # run THIS query execution (a write would plan and run a
            # new one, leaving this plan initial); no rows reach Python
            df._jdf.queryExecution().toRdd().count()
        # PythonSQLUtils.explainString is Spark's internal JVM helper
        # behind DataFrame.explain; calling it returns the text that
        # explain() would only print
        text = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(args.out, f"{name}_{args.suffix}.txt")
        with open(path, "w") as f:
            f.write(text)
        release_persisted()
        print(f"wrote {path} ({len(text.splitlines())} lines)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
