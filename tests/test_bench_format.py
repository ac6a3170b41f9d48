"""The driver records bench.py's LAST stdout line as BENCH_r{N}.json;
round 3's artifact was unparseable because that line carried every
per-query timing. Pin the contract: the final line stays short and
parseable no matter how many queries the headline suite grows to, every
headline query exists in the registry, and the detail file carries the
full map."""

from __future__ import annotations

import io
import json
import os
from contextlib import redirect_stdout

import bench


def test_headline_queries_all_registered():
    from mapreduceframework_cpp_spark.registry import all_queries

    registered = set(all_queries())
    missing = [q for q in bench.HEADLINE if q not in registered]
    assert not missing, f"bench HEADLINE names not in registry: {missing}"
    assert len(set(bench.HEADLINE)) == len(bench.HEADLINE), "duplicate names"


def test_emit_final_line_is_short_and_parseable(tmp_path, monkeypatch):
    # even with 1000 queries the final line must stay tail-capture-sized
    timings = {f"q_{i:04d}": round(0.1 + i / 1000, 3) for i in range(1000)}
    monkeypatch.setattr(
        bench.os.path, "abspath", lambda _: str(tmp_path / "bench.py")
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        headline = bench.emit(timings, sf=0.1)
    lines = [ln for ln in buf.getvalue().splitlines() if ln.strip()]

    final = json.loads(lines[-1])  # must parse on its own
    assert final == headline
    assert final["metric"] == "headline_suite_wall_sec"
    assert final["unit"] == "sec"
    assert final["n_queries"] == 1000
    assert len(final["slowest"]) == 5
    assert "queries" not in final, "full map must not ride the final line"
    assert len(lines[-1]) < 4096, "final line outgrew tail capture again"

    detail = json.load(open(tmp_path / "BENCH_DETAIL.json"))
    assert detail["queries"] == timings
    assert detail["value"] == final["value"] == round(sum(timings.values()), 3)
    assert os.path.exists(tmp_path / "BENCH_DETAIL.json")


def test_emit_sentinel_verdict(tmp_path, monkeypatch):
    """The headline carries the two load-sensitive sentinel timings and
    an in-band/out-of-band verdict, so a driver-run artifact from a
    noisy host is self-identifying (r6). The bands are calibration DATA
    loaded from bench_sentinels.json / $BENCH_SENTINEL_FILE (ADVICE r6:
    hard-coded bands made every other host's clean run self-describe as
    noisy); with no calibration file the verdict is None, never false."""
    monkeypatch.setattr(
        bench.os.path, "abspath", lambda _: str(tmp_path / "bench.py")
    )
    monkeypatch.delenv("BENCH_SENTINEL_FILE", raising=False)

    def run(groupby, scan):
        timings = {"q_agg_groupby": groupby, "q_scan_parquet": scan,
                   "q_other": 0.5}
        with redirect_stdout(io.StringIO()):
            return bench.emit(timings, sf=0.1)

    # no calibration file next to the script → verdict unknown
    assert run(1.05, 0.15)["sentinel_ok"] is None

    (tmp_path / "bench_sentinels.json").write_text(
        '{"q_agg_groupby": [0.95, 1.25], "q_scan_parquet": [0.11, 0.19]}'
    )
    quiet = run(1.05, 0.15)
    assert quiet["sentinels"] == {"q_agg_groupby": 1.05,
                                  "q_scan_parquet": 0.15}
    assert quiet["sentinel_ok"] is True
    assert run(1.6, 0.15)["sentinel_ok"] is False  # inflated groupby
    assert run(1.05, 0.3)["sentinel_ok"] is False  # inflated scan
    # at a non-0.1 sf the bands don't apply
    with redirect_stdout(io.StringIO()):
        other_sf = bench.emit({"q_agg_groupby": 9.9}, sf=0.01)
    assert other_sf["sentinel_ok"] is None
    # a malformed calibration file degrades to unknown, not a crash
    (tmp_path / "bench_sentinels.json").write_text("{nope")
    assert run(1.05, 0.15)["sentinel_ok"] is None
    # top-level non-object JSON must not crash emit() either — a raise
    # here would discard the whole finished run's timings before the
    # first stdout line (code-review r7)
    (tmp_path / "bench_sentinels.json").write_text("[1, 2, 3]")
    assert run(1.05, 0.15)["sentinel_ok"] is None
    # empty or PARTIAL calibration degrades to unknown — it must never
    # vacuously certify an inflated run as clean (code-review r7)
    (tmp_path / "bench_sentinels.json").write_text("{}")
    assert run(99.0, 99.0)["sentinel_ok"] is None
    (tmp_path / "bench_sentinels.json").write_text(
        '{"q_agg_groupby": [0.95, 1.25]}'
    )
    assert run(1.05, 99.0)["sentinel_ok"] is None
    # env-var override wins over the script-adjacent file
    alt = tmp_path / "alt.json"
    alt.write_text('{"q_agg_groupby": [9.0, 9.5], "q_scan_parquet": [9.0, 9.5]}')
    monkeypatch.setenv("BENCH_SENTINEL_FILE", str(alt))
    assert run(1.05, 0.15)["sentinel_ok"] is False


def test_emit_heavy_mover_verdict(tmp_path, monkeypatch):
    """The round-8 lesson: two LIGHT in-band sentinels certified runs
    whose CPU-heavy tail was 10-80% inflated. The headline now also
    carries the median inflation ratio of the quiet reference's 12
    slowest queries (bench_quiet_reference.json /
    $BENCH_QUIET_REFERENCE_FILE) and a verdict at <= 1.25x. Median,
    not max: one genuinely regressed query must not flip the
    host-noise verdict."""
    import io
    from contextlib import redirect_stdout

    monkeypatch.setattr(
        bench.os.path, "abspath", lambda _: str(tmp_path / "bench.py")
    )
    monkeypatch.delenv("BENCH_SENTINEL_FILE", raising=False)
    monkeypatch.delenv("BENCH_QUIET_REFERENCE_FILE", raising=False)

    ref = {f"q_heavy_{i:02d}": 2.0 + i / 10 for i in range(12)}
    ref.update({f"q_light_{i:02d}": 0.2 for i in range(20)})

    def run(factor, extra=None, sf=0.1):
        timings = {n: round(v * factor, 3) for n, v in ref.items()}
        if extra:
            timings.update(extra)
        with redirect_stdout(io.StringIO()):
            return bench.emit(timings, sf=sf)

    # no reference file → verdict unknown
    out = run(1.0)
    assert out["heavy_ok"] is None and out["heavy_median_ratio"] is None

    (tmp_path / "bench_quiet_reference.json").write_text(
        json.dumps({"queries": ref})
    )
    quiet = run(1.0)
    assert quiet["heavy_ok"] is True
    assert quiet["heavy_median_ratio"] == 1.0

    # uniformly inflated tail → flagged, even though no sentinel exists
    assert run(1.5)["heavy_ok"] is False

    # ONE regressed heavy query must not flip the verdict (median)
    one_bad = run(1.0, extra={"q_heavy_11": 99.0})
    assert one_bad["heavy_ok"] is True

    # a run missing some reference heavies → no verdict, never a crash
    partial = {n: v for n, v in ref.items() if n != "q_heavy_00"}
    with redirect_stdout(io.StringIO()):
        out = bench.emit(partial, sf=0.1)
    assert out["heavy_ok"] is None

    # wrong sf → no verdict
    assert run(1.0, sf=0.01)["heavy_ok"] is None

    # malformed reference degrades to unknown, not a crash
    (tmp_path / "bench_quiet_reference.json").write_text("{nope")
    assert run(1.0)["heavy_ok"] is None
    (tmp_path / "bench_quiet_reference.json").write_text('{"queries": {}}')
    assert run(1.0)["heavy_ok"] is None

    # env override wins
    alt = tmp_path / "alt_ref.json"
    alt.write_text(json.dumps({"queries": {n: v / 2 for n, v in ref.items()}}))
    monkeypatch.setenv("BENCH_QUIET_REFERENCE_FILE", str(alt))
    assert run(1.0)["heavy_ok"] is False  # everything reads 2x the alt ref


def test_quiet_reference_matches_headline():
    """bench_quiet_reference.json is calibration DATA for the
    heavy-mover check: its queries must all still exist in HEADLINE
    (else the check silently degrades to unknown after a rename), and
    its 12 slowest — the sampled heavies — must be exactly coverable
    by a real run. Regenerate the file from a fresh sentinel-clean
    BENCH_DETAIL when HEADLINE changes."""
    ref_path = os.path.join(os.path.dirname(bench.__file__),
                            "bench_quiet_reference.json")
    raw = json.load(open(ref_path))
    # the mover check needs the reference host's width to compare hosts
    assert isinstance(raw.get("cpus"), int)
    ref = raw["queries"]
    missing = [q for q in ref if q not in bench.HEADLINE]
    assert not missing, f"reference queries no longer in HEADLINE: {missing}"
    assert len(ref) >= bench._HEAVY_N
    # the loader + checker accept the committed file end-to-end
    loaded = bench._load_quiet_reference()
    assert loaded == {n: float(v) for n, v in ref.items()}
    ratio, ok = bench._heavy_check(loaded, sf=0.1)
    assert ratio == 1.0 and ok is True


def test_emit_mechanical_mover_list(tmp_path, monkeypatch):
    """VERDICT r12: the round log hand-reported 1 heavy mover where
    the artifact held 2 heavy / 9 total. The >=1.3x mover list is now
    emitted BY THE RUN (movers_over_1p3, worst first, capped), so the
    SURVEY log copies it instead of re-deriving it."""
    import io
    from contextlib import redirect_stdout

    monkeypatch.setattr(
        bench.os.path, "abspath", lambda _: str(tmp_path / "bench.py")
    )
    monkeypatch.delenv("BENCH_SENTINEL_FILE", raising=False)
    monkeypatch.delenv("BENCH_QUIET_REFERENCE_FILE", raising=False)

    ref = {f"q_m_{i:02d}": 1.0 for i in range(10)}

    def run(timings, sf=0.1):
        with redirect_stdout(io.StringIO()):
            return bench.emit(timings, sf=sf)

    # no reference → None, never a crash
    assert run(dict(ref))["movers_over_1p3"] is None

    (tmp_path / "bench_quiet_reference.json").write_text(
        json.dumps({"queries": ref})
    )
    timings = dict(ref)
    timings["q_m_03"] = 1.31
    timings["q_m_07"] = 1.7
    out = run(timings)
    assert out["movers_over_1p3"] == {"q_m_07": 1.7, "q_m_03": 1.31}
    assert list(out["movers_over_1p3"]) == ["q_m_07", "q_m_03"]  # worst first

    # clean run → empty dict (present, so "no movers" is an assertion)
    assert run(dict(ref))["movers_over_1p3"] == {}

    # wrong sf → None
    assert run(dict(ref), sf=0.01)["movers_over_1p3"] is None


def test_mover_list_needs_a_reference_from_a_host_of_the_same_width(
    tmp_path, monkeypatch
):
    """A reference that records its host's CPU count gives a mover list
    and a heavy verdict only on a host with that count; elsewhere the
    mover list reports the mismatch (reference CPUs vs host CPUs) and
    the heavy verdict reads unknown, instead of ratios that measure the
    hardware."""
    import io
    from contextlib import redirect_stdout

    monkeypatch.setattr(
        bench.os.path, "abspath", lambda _: str(tmp_path / "bench.py")
    )
    monkeypatch.delenv("BENCH_SENTINEL_FILE", raising=False)
    monkeypatch.delenv("BENCH_QUIET_REFERENCE_FILE", raising=False)
    monkeypatch.setattr(bench, "_host_cpus", lambda: 4)

    ref = {f"q_m_{i:02d}": 1.0 for i in range(10)}
    timings = dict(ref, q_m_07=1.7)

    def run(cpus):
        (tmp_path / "bench_quiet_reference.json").write_text(
            json.dumps({"queries": ref, "cpus": cpus})
        )
        with redirect_stdout(io.StringIO()):
            return bench.emit(timings, sf=0.1)

    # same width: movers flagged exactly as without a recorded count
    same = run(4)
    assert same["movers_over_1p3"] == {"q_m_07": 1.7}
    assert same["heavy_median_ratio"] == 1.0 and same["heavy_ok"] is True
    # other width: the mismatch, not a list, and no heavy verdict
    other = run(32)
    assert other["movers_over_1p3"] == (
        "reference taken on 32 CPUs, this host has 4: no mover list"
    )
    assert other["heavy_median_ratio"] is None and other["heavy_ok"] is None


def test_detail_carries_codegen_compiles_per_query(tmp_path, monkeypatch):
    """Best-of-2 hides a query that recompiles its generated classes on
    every run, so the detail record carries each query's Janino compiles
    and compile time summed over BOTH timed runs, while the final line
    keeps its keys."""
    import mapreduceframework_cpp_spark.operators.common as common
    import mapreduceframework_cpp_spark.registry as registry
    import mapreduceframework_cpp_spark.session as session

    monkeypatch.setattr(
        bench.os.path, "abspath", lambda _: str(tmp_path / "bench.py")
    )
    monkeypatch.delenv("BENCH_SENTINEL_FILE", raising=False)
    monkeypatch.delenv("BENCH_QUIET_REFERENCE_FILE", raising=False)
    monkeypatch.setenv("SPARK_GRAFT_BENCH_ONLY", "q_agg_groupby,q_scan_parquet")

    # a fake JVM counter: q_agg_groupby compiles 3 classes (12.5 ms) on
    # each run, q_scan_parquet compiles 2 on its first run only
    per_run = {"q_scan_select_cols": [(1, 1.0)], "q_agg_groupby": [(3, 12.5)] * 2,
               "q_scan_parquet": [(2, 4.0), (0, 0.0)]}
    counter = {"n": 0, "ms": 0.0}

    def make(name):
        def q(spark, sf_dir):
            n, ms = per_run[name].pop(0)
            counter["n"] += n
            counter["ms"] += ms
            return name
        return q

    class FakeSpark:
        class sparkContext:
            @staticmethod
            def setLogLevel(_):
                pass

        @staticmethod
        def stop():
            pass

    monkeypatch.setattr(registry, "all_queries", lambda: {n: make(n) for n in per_run})
    monkeypatch.setattr(session, "get_spark", lambda _: FakeSpark)
    monkeypatch.setattr(session, "codegen_counters", lambda _: (counter["n"], counter["ms"]))
    monkeypatch.setattr(common, "release_persisted", lambda: None)
    monkeypatch.setattr(bench, "_force", lambda df: None)

    buf = io.StringIO()
    with redirect_stdout(buf):
        bench.main()
    final = json.loads(buf.getvalue().splitlines()[-1])
    detail = json.load(open(tmp_path / "BENCH_DETAIL.json"))
    assert detail["codegen"] == {
        "q_agg_groupby": {"codegen_compiles": 6, "codegen_compile_ms": 25.0},
        "q_scan_parquet": {"codegen_compiles": 2, "codegen_compile_ms": 4.0},
    }
    assert set(detail["queries"]) == set(detail["codegen"])
    assert "codegen" not in final
    with redirect_stdout(io.StringIO()):
        plain = bench.emit(detail["queries"], sf=detail["sf"])
    assert set(final) == set(plain)
