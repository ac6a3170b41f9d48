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


def _latest(artifacts) -> dict[str, tuple[int, int]]:
    """(newest round with a driver row, row order in that artifact)."""
    return {
        name: (rnd, j)
        for rnd, rows in artifacts
        for j, name in enumerate(rows)
    }


def test_registration_follows_verify_rotation():
    """The driver checks the first WINDOW registered queries; the
    window is derived at import from every CORRECTNESS artifact, so
    registration must lead with exactly that derivation, and the
    derivation must reproduce the windows the driver really ran."""
    from mapreduceframework_cpp_spark.queries import PINNED
    from mapreduceframework_cpp_spark.registry import (
        DEFINED,
        WINDOW,
        all_oracles,
        correctness_artifacts,
        derive_next_window,
    )

    registered = list(_QUERIES)
    oracles = set(all_oracles())
    rows_only = set(registered) - oracles
    artifacts = correctness_artifacts()
    rounds = [rnd for rnd, _ in artifacts]
    assert rounds == sorted(rounds) and rounds[:14] == list(range(1, 15))

    # (a) the policy is pinned to driver history: r01-r12 derive the
    # 50 names CORRECTNESS_r13 ran, in its row order. Derived from the
    # definition order, which PINNED (a reorder of registration) cannot
    # move.
    assert sorted(DEFINED) == sorted(registered)
    before_r13 = [a for a in artifacts if a[0] <= 12]
    r13 = dict(artifacts)[13]
    assert derive_next_window(before_r13, DEFINED, oracles)[0] == list(r13)

    # (b) registration leads with the derivation over every artifact
    window, unproven = derive_next_window(
        artifacts, registered, oracles, PINNED
    )
    assert registered[:WINDOW] == window

    # (c) a full window of distinct names; rows-only queries enter only
    # as unproven, never as a re-confirm slot
    assert len(window) == len(set(window)) == WINDOW
    assert set(window) & rows_only <= set(unproven)

    # (d) stalest first: every backfill slot is at least as stale as
    # every SQL-oracle query left outside the window
    latest = _latest(artifacts)
    backfill = [n for n in window if n not in unproven and n not in PINNED]
    outside = [
        n for n in registered
        if n in oracles and n not in unproven and n not in window
    ]
    assert backfill and outside
    assert max(latest[n] for n in backfill) < min(latest[n] for n in outside)

    # a pin re-confirms oracle evidence; rows-only names cannot be pinned
    assert {"q_sim_ivf_topk", "q_emb_pca_top"} <= rows_only
    with pytest.raises(ValueError, match="q_emb_pca_top"):
        derive_next_window(
            artifacts, registered, oracles, {"q_emb_pca_top": 14}
        )


def test_new_artifact_moves_the_window(tmp_path):
    """A new driver artifact moves the window at the next import, with
    no code edit (the round-14 failure: a hand-kept window was never
    activated, so a round re-ran the previous round's 50 names). On a
    clone holding the package and the artifacts, a pin takes a slot,
    and an artifact that proves the window green moves the head to the
    next-stalest names and releases the pin, while a re-confirm that
    comes back red leads the next window."""
    import json
    import os
    import re
    import shutil
    import subprocess
    import sys

    from mapreduceframework_cpp_spark.registry import (
        ROOT,
        WINDOW,
        all_oracles,
        correctness_artifacts,
        derive_next_window,
    )

    work = tmp_path / "repo"
    shutil.copytree(
        os.path.join(ROOT, "mapreduceframework_cpp_spark"),
        work / "mapreduceframework_cpp_spark",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    artifacts = correctness_artifacts()
    for rnd, _ in artifacts:
        name = f"CORRECTNESS_r{rnd:02d}.json"
        shutil.copy(os.path.join(ROOT, name), work / name)
    last = artifacts[-1][0]

    def head() -> list[str]:
        p = subprocess.run(
            [sys.executable, "-c",
             "import json; from mapreduceframework_cpp_spark import registry;"
             "print(json.dumps([registry.ROOT,"
             " list(registry.all_queries())[:registry.WINDOW]]))"],
            capture_output=True, text=True, cwd=work, check=True,
        )
        root, names = json.loads(p.stdout)
        assert root == str(work)  # the clone's package, not the repo's
        return names

    assert head() == list(_QUERIES)[:WINDOW]

    # pin the SQL-oracle query with the freshest evidence outside the
    # window to the newest round: it takes a slot at once
    oracles = set(all_oracles())
    unproven = derive_next_window(artifacts, _QUERIES, oracles)[1]
    latest = _latest(artifacts)
    proven = [n for n in _QUERIES if n in oracles and n not in unproven]
    pin = max(
        (n for n in proven if n not in list(_QUERIES)[:WINDOW]),
        key=lambda n: latest[n],
    )
    init = work / "mapreduceframework_cpp_spark" / "queries" / "__init__.py"
    init.write_text(re.sub(
        r"PINNED = \{.*?\n\}", f"PINNED = {{{pin!r}: {last}}}",
        init.read_text(), count=1, flags=re.S,
    ))
    old = head()
    assert pin in old

    # the new round proves the window green except one re-confirm slot,
    # which comes back with a hash mismatch
    red = old[-1]
    assert red in proven and red != pin and set(unproven) <= set(old)
    (work / f"CORRECTNESS_r{last + 1}.json").write_text(json.dumps({
        n: {"hash_match": n != red, "spark_rows": 1, "err": None}
        for n in old
    }))
    new = head()
    stalest = sorted((n for n in proven if n not in old),
                     key=lambda n: latest[n])
    assert new == ([red] + stalest)[:WINDOW]
    assert pin not in new


def test_artifact_loader_reads_only_round_files(tmp_path):
    """Only CORRECTNESS_rNN.json names are artifacts, in numeric round
    order; a truncated artifact fails the import loudly rather than
    silently moving the window."""
    import json

    from mapreduceframework_cpp_spark.registry import correctness_artifacts

    for rnd in (100, 11, 2):
        (tmp_path / f"CORRECTNESS_r{rnd}.json").write_text(
            json.dumps({f"q_{rnd}": {}})
        )
    (tmp_path / "CORRECTNESS_r15_partial.json").write_text("{")
    (tmp_path / "CORRECTNESS_r16.json.bak").write_text("{")
    assert correctness_artifacts(str(tmp_path)) == [
        (2, {"q_2": {}}), (11, {"q_11": {}}), (100, {"q_100": {}})
    ]
    (tmp_path / "CORRECTNESS_r101.json").write_text("{")
    with pytest.raises(json.JSONDecodeError):
        correctness_artifacts(str(tmp_path))


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
