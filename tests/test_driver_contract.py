"""Contract tests against the external verifier's canonicalizer.

The verifier collects each query's result into pandas and sorts on every
column; array/map/struct-typed cells make that sort raise (``TypeError:
unhashable type: 'numpy.ndarray'`` — exactly how three queries errored in
round 1). So the standing contract is: every registered query's FINAL
projection emits atomic (scalar) columns only. Complex values must be
serialized (``concat_ws`` / ``to_json``) before return, mirrored in the
DuckDB oracle (``array_to_string`` / ``to_json``).

Schema analysis only — nothing executes, so this covers all queries in
seconds and catches offenders at registration time, not verify time.
"""

from __future__ import annotations

import pytest
from pyspark.sql.types import ArrayType, DecimalType, MapType, StructType

from mapreduceframework_cpp_spark.registry import all_queries

_QUERIES = all_queries()


@pytest.mark.parametrize("name", sorted(_QUERIES))
def test_output_columns_are_atomic(name, spark, sf_dir):
    df = _QUERIES[name](spark, sf_dir)
    complex_cols = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]
    assert not complex_cols, (
        f"{name}: non-atomic output columns {complex_cols} would crash the "
        "verifier's canonicalizer — serialize them (concat_ws/to_json) in the "
        "final projection and mirror in the oracle"
    )
    # Second standing contract (round-6 reds): no DECIMAL output
    # columns. The verifier hashes through pandas, where a Spark
    # DECIMAL collects as object-of-Decimal but the DuckDB oracle's
    # DECIMAL lands as float64 — a guaranteed hash-fail on equal
    # values. DECIMAL is fine (and encouraged) INSIDE a query for
    # exact money math; the final projection must emit BIGINT cents
    # or a DOUBLE. Watch /1000000.0-style literals: Spark parses them
    # as DECIMAL(8,1), silently infecting the division (use /1e6).
    dec_cols = [
        f.name for f in df.schema.fields if isinstance(f.dataType, DecimalType)
    ]
    assert not dec_cols, (
        f"{name}: DECIMAL output columns {dec_cols} always hash-fail under "
        "the driver's pandas lens — emit BIGINT cents or CAST(... AS DOUBLE)"
    )


def test_registration_follows_verify_rotation():
    """The verifier checks the first ~50 registered queries per round;
    queries/__init__.py declares the rotation explicitly. Guard that
    registration actually honors it, that the live round-14 window is
    the one all fourteen CORRECTNESS artifacts derive, and that the
    earlier windows spent their slots per the standing policy. Round
    12 landed PERFECT (derived HERE from the frozen
    CORRECTNESS_r12.json — 50/50 hash-green, zero errs, zero rows-only
    slots), so the round-13 window is the pure mechanical derivation,
    with any new round-13 registrations forming its unproven head.
    The green fold AND the window derivation are imported from
    tools/next_rotation.py (ADVICE r4: a local copy of the fold
    silently diverged from the CLI's policy)."""
    import json
    import os
    import sys

    from mapreduceframework_cpp_spark.queries import (
        ROUND11_ROTATION,
        ROUND12_ROTATION,
        ROUND13_ROTATION,
        ROUND14_ROTATION,
        VERIFY_ROTATION,
    )
    from mapreduceframework_cpp_spark.registry import all_oracles

    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if repo_root not in sys.path:
        sys.path.insert(0, repo_root)
    from tools.next_rotation import derive_next_window, green_set

    registered = list(_QUERIES)
    assert VERIFY_ROTATION is ROUND14_ROTATION  # the live window alias
    assert registered[: len(ROUND14_ROTATION)] == ROUND14_ROTATION
    assert len(ROUND13_ROTATION) == 50
    assert len(set(ROUND13_ROTATION)) == 50
    assert not set(ROUND13_ROTATION) & set(ROUND12_ROTATION)
    assert not set(ROUND13_ROTATION) & set(ROUND11_ROTATION)

    oracles = set(all_oracles())
    # round 12 landed perfect: no SQL-oracle row in its window ran
    # without error yet hash-failed, so there is nothing to re-queue
    r12 = json.load(open(os.path.join(repo_root, "CORRECTNESS_r12.json")))
    reds = [
        n
        for n in ROUND12_ROTATION
        if n in r12
        and n in oracles
        and not r12[n].get("err")
        and not r12[n].get("hash_match")
    ]
    assert reds == [], f"round-12 reds exist — re-queue them: {reds}"

    all_rounds = [
        os.path.join(repo_root, f"CORRECTNESS_{r}.json")
        for r in (
            "r01", "r02", "r03", "r04", "r05", "r06",
            "r07", "r08", "r09", "r10", "r11", "r12",
        )
    ]
    green = green_set(all_rounds, oracles)
    unproven = [q for q in registered if q not in green]

    # the round-13 window = the PURE mechanical derivation over the
    # eleven pre-r12 artifacts with ROUND12 planned, which places any
    # new (unproven) round-13 registrations at the head automatically.
    # No manual slotting at all.
    pre_r12 = all_rounds[:-1]
    derived13, derived13_unproven = derive_next_window(
        pre_r12, registered, oracles, planned=[ROUND12_ROTATION]
    )
    assert derived13_unproven == unproven
    assert ROUND13_ROTATION == derived13
    rows_only = set(registered) - oracles
    assert not set(ROUND13_ROTATION) & rows_only, (
        "terminal rows-only queries must not hold re-confirm slots"
    )

    # the committed round-14 plan is MECHANICAL: derived from all
    # twelve artifacts with the live round-13 window folded in as
    # planned evidence — the plan cannot drift from the tool
    derived14, derived14_unproven = derive_next_window(
        all_rounds,
        registered,
        oracles,
        planned=[ROUND13_ROTATION],
    )
    assert derived14_unproven == []
    assert ROUND14_ROTATION == derived14
    assert len(set(ROUND14_ROTATION)) == 50
    assert not set(ROUND14_ROTATION) & set(ROUND12_ROTATION)
    assert not set(ROUND14_ROTATION) & set(ROUND13_ROTATION)
    assert not set(ROUND14_ROTATION) & rows_only

    # the LIVE window is the one the fourteen landed artifacts derive
    # (r13 and r14 both re-checked the round-13 window, so this equals
    # the round-14 plan above with nothing assumed)
    every_round = all_rounds + [
        os.path.join(repo_root, f"CORRECTNESS_{r}.json") for r in ("r13", "r14")
    ]
    live, live_unproven = derive_next_window(every_round, registered, oracles)
    assert live_unproven == []
    assert VERIFY_ROTATION == live

    # drain invariant: after round 13 runs, no SQL-oracle query has
    # pre-r7 latest evidence, and the r7-latest overflow is exactly
    # the r07 tail that provably cannot fit (the pool is ordered, so
    # overflow = the names AFTER the window's last slot in r07 order)
    latest: dict[str, int] = {}
    r07_order: dict[str, int] = {}
    for i, r in enumerate(
        ("r01", "r02", "r03", "r04", "r05", "r06",
         "r07", "r08", "r09", "r10", "r11", "r12")
    ):
        rows = json.load(open(os.path.join(repo_root, f"CORRECTNESS_{r}.json")))
        for j, name in enumerate(rows):
            latest[name] = i + 1
            if r == "r07":
                r07_order[name] = j
    covered = set(ROUND13_ROTATION)
    stale6 = {
        q
        for q, rnd in latest.items()
        if rnd <= 6 and q in registered and q in oracles
    }
    assert stale6 <= covered, sorted(stale6 - covered)[:10]
    stale7 = {
        q
        for q, rnd in latest.items()
        if rnd == 7 and q in registered and q in oracles
    }
    spilled = stale7 - covered
    max_covered_r07 = max(
        (r07_order[q] for q in ROUND13_ROTATION if q in r07_order),
        default=-1,
    )
    assert all(r07_order[q] > max_covered_r07 for q in spilled), (
        "a covered r07 slot was skipped in favor of a newer one",
        sorted(spilled)[:10],
    )


def test_readme_counts_match_registry():
    """README's 'N of M registered queries are hash-verified' sentence
    drifted twice (r2, r3); pin it to the registry."""
    import re

    from mapreduceframework_cpp_spark.registry import all_oracles

    text = open("README.md").read()
    m = re.search(r"(\d+) of (\d+) registered\s+queries are hash-verified",
                  text)
    assert m, "README verification-count sentence not found"
    n_sql, total = map(int, m.groups())
    assert n_sql == len(all_oracles())
    assert total == len(_QUERIES)


def test_survey_totals_match_registry():
    """SURVEY.md §2.2's declared totals stay in lockstep with the
    registry — the declared contract is the source of truth."""
    import re

    from mapreduceframework_cpp_spark.registry import all_oracles

    text = open("SURVEY.md").read()
    m = re.search(
        r"\*\*Totals: (\d+) registered queries\*\* \((\d+) SQL-oracle, "
        r"(\d+) rows-only\)",
        text,
    )
    assert m, "SURVEY.md totals line not found"
    total, n_sql, n_rows_only = map(int, m.groups())
    assert total == len(_QUERIES)
    assert n_sql == len(all_oracles())
    assert n_rows_only == len(_QUERIES) - len(all_oracles())
