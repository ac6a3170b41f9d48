#!/usr/bin/env python
"""Generate REGISTRY_INDEX.md — the mechanical one-page coverage index.

SURVEY.md §2.2 spans ~300 queries across 20 families and over a
thousand lines; the judge (VERDICT r9 item 7) asked for a generated
index so coverage can be diffed mechanically between rounds. One row
per registered query:

    query id | family (source module) | file:line | oracle grade |
    latest driver round + status

"Latest driver round" folds every CORRECTNESS_r*.json in round order;
status is `hash` (hash_match true), `rows` (clean rows-only /
`no_oracle`), or the recorded err string. Regenerate after any
registration change, and after any edit that moves a registered
query's ``@query`` line (the source column is ``file:line``, so a
line shift anywhere above a decorator stales the index)::

    python tools/registry_index.py          # rewrites REGISTRY_INDEX.md
    python tools/registry_index.py --check  # exit 1 if file is stale

tests/test_registry_index.py runs --check so a drifted index fails CI.

Round-lifecycle contract (VERDICT r12 item 1 — two consecutive rounds
opened red because the driver drops CORRECTNESS_r{N}.json AFTER the
builder's closing commit, an artifact the committed index cannot have
folded): the generated file records the newest round it folded in a
``<!-- folds-through: rN -->`` marker, and ``--check`` rebuilds using
ONLY artifacts from rounds <= that marker. Driver artifacts newer than
the committed index are invisible to the check (the next round's
activation regen folds them in); any change to a round the index DOES
claim, or to the registry itself, still reds as before.
"""

from __future__ import annotations

import glob
import inspect
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

OUT = os.path.join(REPO, "REGISTRY_INDEX.md")


def _artifact_rounds() -> list[tuple[int, str]]:
    out = []
    for path in sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))):
        rnd = int(os.path.basename(path).split("_r")[1].split(".")[0])
        out.append((rnd, path))
    return out


def build(max_round: int | None = None) -> str:
    from mapreduceframework_cpp_spark.registry import all_oracles, all_queries

    queries = all_queries()
    oracles = set(all_oracles())

    rounds = _artifact_rounds()
    if max_round is None:
        max_round = max((rnd for rnd, _ in rounds), default=0)

    latest: dict[str, tuple[int, str]] = {}
    for rnd, path in rounds:
        if rnd > max_round:
            continue
        for name, r in json.load(open(path)).items():
            err = r.get("err")
            if r.get("hash_match"):
                status = "hash"
            elif err in (None, "no_oracle") and r.get("spark_rows") is not None:
                status = "rows"
            else:
                status = f"ERR:{err}" if err else "RED"
            latest[name] = (rnd, status)

    rows = []
    fam_counts: dict[str, list[int]] = {}
    for name, fn in queries.items():
        mod = fn.__module__.rsplit(".", 1)[-1]
        try:
            src = os.path.relpath(inspect.getsourcefile(fn), REPO)
            line = inspect.getsourcelines(fn)[1]
            loc = f"{src}:{line}"
        except (OSError, TypeError):
            loc = "?"
        grade = "sql-oracle" if name in oracles else "rows-only"
        rnd, status = latest.get(name, (0, "never"))
        rows.append((name, mod, loc, grade, rnd, status))
        c = fam_counts.setdefault(mod, [0, 0])
        c[0] += 1
        c[1] += 1 if grade == "sql-oracle" else 0

    n = len(rows)
    n_sql = sum(1 for r in rows if r[3] == "sql-oracle")
    hdr = [
        "# Registry index (generated — do not edit)",
        "",
        f"<!-- folds-through: r{max_round} -->",
        "",
        f"`python tools/registry_index.py` output over {n} registered "
        f"queries ({n_sql} SQL-oracle, {n - n_sql} rows-only) and "
        f"every CORRECTNESS_r*.json through round {max_round}. Sorted "
        "by family, then "
        "query id. `latest` = newest driver round with a row for the "
        "query; `hash` = hash-green, `rows` = clean rows-only. Driver "
        "artifacts newer than the folds-through marker are ignored by "
        "`--check` (they arrive after the round's closing commit) and "
        "fold in at the next activation regen.",
        "",
        "| query | family | source | oracle | latest |",
        "|---|---|---|---|---|",
    ]
    body = [
        f"| {name} | {mod} | {loc} | {grade} | r{rnd} {status} |"
        for name, mod, loc, grade, rnd, status in sorted(
            rows, key=lambda r: (r[1], r[0])
        )
    ]
    tail = [
        "",
        "## Per-family totals",
        "",
        "| family | queries | sql-oracle |",
        "|---|---|---|",
    ] + [
        f"| {m} | {c[0]} | {c[1]} |"
        for m, c in sorted(fam_counts.items())
    ]
    return "\n".join(hdr + body + tail) + "\n"


def _recorded_max_round() -> int | None:
    """Parse the folds-through marker from the committed index."""
    import re

    try:
        current = open(OUT).read()
    except OSError:
        return None
    m = re.search(r"<!-- folds-through: r(\d+) -->", current)
    return int(m.group(1)) if m else None


def main() -> int:
    if "--check" in sys.argv:
        # Rebuild at the committed file's own folds-through round so
        # post-close driver artifacts (rounds the builder never saw)
        # cannot red the check. A missing marker (legacy file) folds
        # everything, reproducing the old behavior.
        text = build(max_round=_recorded_max_round())
        try:
            current = open(OUT).read()
        except OSError:
            current = ""
        if current != text:
            print("REGISTRY_INDEX.md is stale — run tools/registry_index.py")
            return 1
        print("REGISTRY_INDEX.md is fresh")
        return 0
    text = build()
    with open(OUT, "w") as f:
        f.write(text)
    print(f"wrote {OUT}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
