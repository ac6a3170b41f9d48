#!/usr/bin/env python
"""Per-job timeline of a Spark event log: one line per job with its job
group, start and end (ms from the group's first job) and duration. The
layer receipt for a claim about job counts or per-job overhead (which
phase of a query the saving sits in).

Usage::

    python tools/job_timeline.py <event-log dir> [--group SUBSTRING]

``<event-log dir>`` holds ``eventlog_v2_*/events_*`` (a traced
``perfbench/run.py --trace 1`` run writes one under
``perfbench/out/eventlog/<run>/``). ``--group`` keeps the job groups
that contain the substring, e.g. ``pb:2:q_graph_pagerank`` for one warm
execution of one query.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("log_dir")
    ap.add_argument("--group", default="")
    args = ap.parse_args()

    from perfbench.eventlog import fold, read_events

    print("group\tstart_ms\tend_ms\tdur_ms")
    for group, g in sorted(fold(read_events(args.log_dir)).items()):
        if args.group not in group:
            continue
        spans = sorted(g["job_spans"])
        t0 = spans[0][0] if spans else 0.0
        for start, end in spans:
            ms = [round((t - t0) * 1e3) for t in (start, end)]
            print(f"{group}\t{ms[0]}\t{ms[1]}\t{ms[1] - ms[0]}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
