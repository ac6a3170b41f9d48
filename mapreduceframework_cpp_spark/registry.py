"""Query registry — keeps ``queries()`` and ``oracle_sql()`` in lockstep.

Every capability row in SURVEY.md §2.2 registers here exactly once via the
``@query`` decorator; ``__spark_entry__.py`` re-exports the two dicts. A
query with ``oracle=None`` is deliberately rows-only (non-SQL-expressible),
which the driver records as the weaker check.
"""

from __future__ import annotations

import json
import os
import re
from collections.abc import Callable, Iterable, Mapping

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

#: the repo root, where the driver drops one CORRECTNESS_rNN.json a round
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: how many registered queries the driver checks per round
WINDOW = 50

Artifact = tuple[int, dict[str, dict]]


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a declared query (SURVEY.md §2.2) and its DuckDB oracle."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query registration: {name}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def reorder(priority: list[str]) -> None:
    """Rebuild the registration order: ``priority`` names first (in the
    given order), everything else after in original registration order.

    The driver checks the first :data:`WINDOW` registered queries, so
    queries/__init__.py passes the window :func:`derive_next_window`
    derives. Unknown names are an error: a stale list must fail loudly,
    not silently shrink the verified window."""
    unknown = [n for n in priority if n not in QUERIES]
    if unknown:
        raise KeyError(f"reorder: unknown queries {unknown}")
    rest = [n for n in QUERIES if n not in set(priority)]
    ordered = {n: QUERIES[n] for n in [*priority, *rest]}
    QUERIES.clear()
    QUERIES.update(ordered)


def correctness_artifacts(root: str = ROOT) -> list[Artifact]:
    """Every ``CORRECTNESS_rNN.json`` in ``root`` as ``(round, rows)``,
    parsed once, in numeric round order (r100 after r11). Other names
    are skipped; an unreadable artifact raises, since skipping it would
    silently move the window."""
    out = []
    for entry in os.listdir(root):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", entry)
        if m:
            with open(os.path.join(root, entry)) as f:
                out.append((int(m.group(1)), json.load(f)))
    return sorted(out, key=lambda a: a[0])


def _green_row(name: str, row: dict, oracles: set[str]) -> bool:
    """A SQL-oracle query is green on ``hash_match`` without ``err``; a
    rows-only query on a clean run (``spark_rows`` present, ``err``
    absent or the driver's ``no_oracle`` tag), the most the driver can
    prove without an oracle."""
    if name in oracles:
        return not row.get("err") and bool(row.get("hash_match"))
    return row.get("spark_rows") is not None and row.get("err") in (
        None,
        "no_oracle",
    )


def derive_next_window(
    artifacts: list[Artifact],
    queries: Iterable[str],
    oracles: Iterable[str],
    pinned: Mapping[str, int] | None = None,
) -> tuple[list[str], list[str]]:
    """The next verification window, and every unproven name.

    1. Unproven: no row, or a red newest row (a re-confirm that comes
       back red re-queues at the head), registration order.
    2. Pinned: each ``pinned`` name (changed after round ``pinned[n]``)
       until an artifact newer than that round holds a green row for it.
    3. Backfill: the other SQL-oracle queries, stalest first by (newest
       round with a row, row order in that artifact). Rows-only queries
       never re-confirm: a clean run only re-proves "returns rows"."""
    queries = list(queries)
    oracles = set(oracles)
    pinned = dict(pinned or {})
    not_sql = [n for n in pinned if n not in oracles]
    if not_sql:
        raise ValueError(f"pinned names without a SQL oracle: {not_sql}")
    green: set[str] = set()
    latest: dict[str, tuple[int, int]] = {}
    for rnd, rows in artifacts:
        for j, (name, row) in enumerate(rows.items()):
            latest[name] = (rnd, j)
            if not _green_row(name, row, oracles):
                green.discard(name)
                continue
            green.add(name)
            if rnd > pinned.get(name, rnd):
                del pinned[name]
    unproven = [q for q in queries if q not in green]
    pins = [q for q in pinned if q in green]
    backfill = sorted(
        (q for q in queries if q in green and q in oracles and q not in pinned),
        key=lambda q: latest[q],
    )
    return (unproven + pins + backfill)[:WINDOW], unproven


def all_queries() -> dict[str, QueryFn]:
    import mapreduceframework_cpp_spark.queries  # noqa: F401  (registers on import)

    return dict(QUERIES)


def all_oracles() -> dict[str, str]:
    import mapreduceframework_cpp_spark.queries  # noqa: F401

    return dict(ORACLES)
