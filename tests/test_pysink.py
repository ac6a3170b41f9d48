"""Transactional Python data sink (sources/pysink.py): batch commit /
abort atomicity, overwrite semantics, manifest-scoped visibility, and
the streaming writer's replayed-batch idempotence (the exactly-once
property the engine claims)."""

from __future__ import annotations

import json
import os

import pyspark.sql.functions as F
import pytest
from pyspark.sql import Row

from mapreduceframework_cpp_spark.sources.pysink import (
    TxnFilesStreamWriter,
    committed_entries,
    committed_files,
    compact,
    read_changes,
    read_committed,
    read_committed_between,
    read_snapshot,
    register,
    vacuum,
)

_SCHEMA = "k bigint, v string"


def _rows(spark, n, tag="a"):
    return spark.range(n).select(
        F.col("id").alias("k"), F.concat(F.lit(tag), F.col("id")).alias("v")
    )


def _read_back(spark, path):
    return sorted(map(tuple, read_committed(spark, str(path), _SCHEMA).collect()))


def test_batch_roundtrip_and_visibility(spark, tmp_path):
    register(spark)
    df = _rows(spark, 20).repartition(4)
    df.write.format("txn_files").mode("append").save(str(tmp_path))
    assert _read_back(spark, tmp_path) == sorted(map(tuple, df.collect()))
    # staging drained, exactly one manifest, only part-* published
    assert os.listdir(tmp_path / "_staging") == []
    manifests = os.listdir(tmp_path / "_txn")
    assert len(manifests) == 1
    listed = json.load(open(tmp_path / "_txn" / manifests[0]))
    assert listed["rows"] == 20
    parts = [f for f in os.listdir(tmp_path) if f.startswith("part-")]
    assert sorted(parts) == sorted(listed["files"])


def test_empty_partitions_write_no_files(spark, tmp_path):
    register(spark)
    _rows(spark, 2).repartition(8).write.format("txn_files").mode("append").save(
        str(tmp_path)
    )
    listed = committed_files(str(tmp_path))
    assert 0 < len(listed) <= 2  # 6+ empty partitions stage nothing
    assert _read_back(spark, tmp_path) == [(0, "a0"), (1, "a1")]


def test_append_accumulates_manifests(spark, tmp_path):
    register(spark)
    for tag in ("a", "b"):
        _rows(spark, 3, tag).coalesce(1).write.format("txn_files").mode(
            "append"
        ).save(str(tmp_path))
    assert len(_read_back(spark, tmp_path)) == 6
    assert len(os.listdir(tmp_path / "_txn")) == 2


def test_overwrite_unpublishes_previous_commits(spark, tmp_path):
    register(spark)
    _rows(spark, 5, "old").coalesce(1).write.format("txn_files").mode("append").save(
        str(tmp_path)
    )
    old_files = committed_files(str(tmp_path))
    _rows(spark, 2, "new").coalesce(1).write.format("txn_files").mode(
        "overwrite"
    ).save(str(tmp_path))
    assert _read_back(spark, tmp_path) == [(0, "new0"), (1, "new1")]
    # superseded parts are unlisted but NOT deleted by the commit: a
    # reader that planned its scan on the prior snapshot must be able
    # to finish against intact files (ADVICE r10); vacuum reclaims
    # them past the retention window
    assert all(os.path.exists(f) for f in old_files)
    assert vacuum(str(tmp_path)) == 0  # default retention: too fresh
    assert all(os.path.exists(f) for f in old_files)
    assert vacuum(str(tmp_path), min_age_s=0) > 0
    assert not any(os.path.exists(f) for f in old_files)
    assert len([f for f in os.listdir(tmp_path) if f.startswith("part-")]) == 1


def test_failed_job_leaves_nothing_visible(spark, tmp_path):
    register(spark)

    @F.udf("string")
    def boom(v):
        raise ValueError("injected task failure")

    df = _rows(spark, 4).select("k", boom("v").alias("v"))
    with pytest.raises(Exception, match="injected"):
        df.write.format("txn_files").mode("append").save(str(tmp_path))
    assert committed_files(str(tmp_path)) == []
    assert read_committed(spark, str(tmp_path), _SCHEMA).count() == 0


def test_read_ignores_unmanifested_files(spark, tmp_path):
    register(spark)
    _rows(spark, 3).coalesce(1).write.format("txn_files").mode("append").save(
        str(tmp_path)
    )
    # an orphaned part (crash between rename and manifest) and a staged
    # leftover must both be invisible to readers
    (tmp_path / "part-orphan.jsonl").write_text('{"k": 99, "v": "ghost"}\n')
    (tmp_path / "_staging" / "stage-zzz.jsonl").write_text('{"k": 98, "v": "g"}\n')
    assert _read_back(spark, tmp_path) == [(0, "a0"), (1, "a1"), (2, "a2")]


def test_stream_replayed_batch_is_discarded(tmp_path):
    """Direct protocol unit: a micro-batch re-delivered after a sink
    commit (restart inside the at-least-once window) must not double
    its rows — the batchId-keyed manifest detects the replay."""
    w = TxnFilesStreamWriter(str(tmp_path))
    rows = [Row(k=1, v="x"), Row(k=2, v="y")]
    w.commit([w.write(iter(rows))], batchId=0)
    first = committed_files(str(tmp_path))
    w.commit([w.write(iter(rows))], batchId=0)  # replay of batch 0
    assert committed_files(str(tmp_path)) == first
    assert os.listdir(tmp_path / "_staging") == []  # duplicate discarded
    w.commit([w.write(iter(rows))], batchId=1)  # a NEW batch still lands
    assert len(committed_files(str(tmp_path))) == 2


def test_stream_replay_race_loses_atomically(tmp_path):
    """The TOCTOU window: a replay that passes the exists-check before
    the first commit lands must still lose — the manifest claim is
    put-if-absent (os.link), not check-then-replace. Exercised by
    calling the publish layer directly with the same manifest name."""
    from mapreduceframework_cpp_spark.sources.pysink import (
        TxnFilesStreamWriter as W,
        _publish,
    )

    w = W(str(tmp_path))
    m1 = w.write(iter([Row(k=1, v="first")]))
    m2 = w.write(iter([Row(k=1, v="replay")]))
    assert _publish(str(tmp_path), [m1], "manifest-race.json") is True
    assert _publish(str(tmp_path), [m2], "manifest-race.json") is False
    files = committed_files(str(tmp_path))
    assert len(files) == 1
    assert "first" in open(files[0]).read()
    # the loser's renamed part was deleted, not orphaned
    assert len([f for f in os.listdir(tmp_path) if f.startswith("part-")]) == 1


def test_stream_abort_discards_staged(tmp_path):
    w = TxnFilesStreamWriter(str(tmp_path))
    msg = w.write(iter([Row(k=1, v="x")]))
    w.abort([msg, None], batchId=0)  # None = failed task's message
    assert committed_files(str(tmp_path)) == []
    assert os.listdir(tmp_path / "_staging") == []


def test_manifest_zone_maps_and_pruned_read(spark, tmp_path):
    """Range-clustered write → manifest stats are tight per file → a
    key-range read opens ONLY overlapping files, and the residual
    filter keeps the result exact."""
    register(spark)
    df = _rows(spark, 1000).repartitionByRange(10, "k")
    df.write.format("txn_files").mode("append").save(str(tmp_path))
    entries = committed_entries(str(tmp_path))
    assert len(entries) == 10
    for e in entries:
        assert set(e["stats"]) == {"k", "v"}
        assert e["stats"]["k"][0] <= e["stats"]["k"][1]
    kept = [
        e for e in entries
        if e["stats"]["k"][0] <= 250 and 200 <= e["stats"]["k"][1]
    ]
    assert len(kept) < len(entries)  # pruning has something to skip
    got = read_committed_between(spark, str(tmp_path), _SCHEMA, "k", 200, 250)
    assert sorted(r.k for r in got.collect()) == list(range(200, 251))
    # a file with NO stats for the column is kept conservatively
    import json as _json

    m = sorted((tmp_path / "_txn").glob("manifest-*.json"))[0]
    doc = _json.loads(m.read_text())
    doc["entries"][0]["stats"] = {}
    m.write_text(_json.dumps(doc))
    got2 = read_committed_between(spark, str(tmp_path), _SCHEMA, "k", 200, 250)
    assert got2.count() == 51


def test_snapshot_time_travel(spark, tmp_path):
    register(spark)
    _rows(spark, 3, "a").coalesce(1).write.format("txn_files").mode(
        "append"
    ).save(str(tmp_path))
    _rows(spark, 5, "b").coalesce(2).write.format("txn_files").mode(
        "append"
    ).save(str(tmp_path))
    s1 = read_snapshot(spark, str(tmp_path), _SCHEMA, as_of=1)
    assert sorted(r.v for r in s1.collect()) == ["a0", "a1", "a2"]
    s2 = read_snapshot(spark, str(tmp_path), _SCHEMA, as_of=2)
    assert s2.count() == 8


def test_overwrite_is_atomic_and_orders_after(spark, tmp_path):
    """The r10 review findings on the overwrite protocol: (a) a
    replaces commit supersedes earlier manifests the instant it lands
    — even while they are still on disk, readers must not see them;
    (b) post-overwrite appends must sort AFTER the overwrite
    (monotone sequence, not manifest count), keeping snapshot and
    change windows correct."""
    from mapreduceframework_cpp_spark.sources.pysink import (
        TxnFilesWriter,
        _visible_log,
    )

    register(spark)
    for tag in ("a", "b"):
        _rows(spark, 2, tag).coalesce(1).write.format("txn_files").mode(
            "append"
        ).save(str(tmp_path))
    # (a) atomic supersede: drive the writer directly so reclamation
    # can be observed separately from the claim
    w = TxnFilesWriter(str(tmp_path), overwrite=True)
    msg = w.write(iter([Row(k=9, v="ow")]))
    w.commit([msg])
    assert [r[1] for r in _read_back(spark, tmp_path)] == ["ow"]
    assert len(_visible_log(str(tmp_path))) == 1
    # (b) order: the next appends come after the overwrite generation
    for tag in ("c", "d"):
        _rows(spark, 1, tag).coalesce(1).write.format("txn_files").mode(
            "append"
        ).save(str(tmp_path))
    s1 = read_snapshot(spark, str(tmp_path), _SCHEMA, as_of=1)
    assert sorted(r.v for r in s1.collect()) == ["ow"]
    feed = read_changes(spark, str(tmp_path), _SCHEMA, 1, 3)
    assert sorted(r.v for r in feed.collect()) == ["c0", "d0"]


def test_stream_complete_mode_truncates_per_batch(tmp_path):
    """outputMode('complete') → Spark passes overwrite=True to
    streamWriter → each batch is a replaces commit holding the full
    state; the sink must not accumulate earlier batches' copies."""
    w = TxnFilesStreamWriter(str(tmp_path), truncate=True)
    w.commit([w.write(iter([Row(k=1, v="state1")]))], batchId=0)
    w.commit([w.write(iter([Row(k=1, v="state2"), Row(k=2, v="s2")]))], batchId=1)
    files = committed_files(str(tmp_path))
    content = "".join(open(f).read() for f in files)
    assert "state1" not in content and "state2" in content
    # replay of the latest batch is still discarded
    w.commit([w.write(iter([Row(k=1, v="replay")]))], batchId=1)
    assert committed_files(str(tmp_path)) == files


def test_string_zone_maps_truncated_and_sound(spark, tmp_path):
    """Wide string columns must not bloat manifests: bounds cap at 32
    chars, the upper bound rounds UP (so pruning stays sound), and a
    range read over the truncated column still returns exact rows."""
    register(spark)
    long_v = spark.sql(
        "SELECT id AS k, concat('prefix-', lpad(cast(id as string), 6, '0'),"
        " repeat('x', 500)) AS v FROM range(100)"
    ).repartitionByRange(4, "v")
    long_v.write.format("txn_files").mode("append").save(str(tmp_path))
    for e in committed_entries(str(tmp_path)):
        lo, hi = e["stats"]["v"]
        assert len(lo) <= 32 and len(hi) <= 33
        assert lo <= hi
    lo_q = "prefix-000010" + "x" * 500
    hi_q = "prefix-000019" + "x" * 500
    got = read_committed_between(
        spark, str(tmp_path), "k bigint, v string", "v", lo_q, hi_q
    )
    assert got.count() == 10


def test_read_changes_window(spark, tmp_path):
    """The change feed returns exactly the commits in (from, to] —
    commit 1 excluded, commits 2-3 included, nothing beyond."""
    register(spark)
    for n, tag in ((2, "a"), (3, "b"), (4, "c"), (5, "d")):
        _rows(spark, n, tag).coalesce(1).write.format("txn_files").mode(
            "append"
        ).save(str(tmp_path))
    feed = read_changes(spark, str(tmp_path), _SCHEMA, 1, 3)
    tags = sorted({r.v[0] for r in feed.collect()})
    assert tags == ["b", "c"]
    assert feed.count() == 7
    # empty window and full-history window
    assert read_changes(spark, str(tmp_path), _SCHEMA, 2, 2).count() == 0
    assert read_changes(spark, str(tmp_path), _SCHEMA, 0, 4).count() == 14


def test_vacuum_removes_only_invisible_files(spark, tmp_path):
    register(spark)
    _rows(spark, 5).coalesce(1).write.format("txn_files").mode("append").save(
        str(tmp_path)
    )
    (tmp_path / "part-orphan.jsonl").write_text('{"k": 9, "v": "g"}\n')
    (tmp_path / "_staging" / "stage-left.jsonl").write_text('{"k": 8, "v": "g"}\n')
    (tmp_path / "_txn" / ".tmp-dead").write_text("{}")
    before = _read_back(spark, tmp_path)
    # default age guard protects an in-flight commit's fresh files
    assert vacuum(str(tmp_path)) == 0
    assert (tmp_path / "part-orphan.jsonl").exists()
    # min_age_s=0 reaps everything invisible
    assert vacuum(str(tmp_path), min_age_s=0) == 3
    assert not (tmp_path / "part-orphan.jsonl").exists()
    assert os.listdir(tmp_path / "_staging") == []
    assert os.listdir(tmp_path / "_txn") != []  # manifest intact
    assert _read_back(spark, tmp_path) == before
    assert vacuum(str(tmp_path), min_age_s=0) == 0  # idempotent


def test_recluster_makes_zone_maps_effective(spark, tmp_path):
    """Hash layout → every file spans the key range → pruning keeps
    all files; recluster → range layout → the same window keeps few.
    Data identical before and after."""
    from mapreduceframework_cpp_spark.sources.pysink import recluster

    register(spark)
    _rows(spark, 1000).repartition(8).write.format("txn_files").mode(
        "append"
    ).save(str(tmp_path))
    before = _read_back(spark, tmp_path)

    def kept(lo, hi):
        return [
            e for e in committed_entries(str(tmp_path))
            if e["stats"]["k"][0] <= hi and lo <= e["stats"]["k"][1]
        ]

    assert len(kept(100, 150)) == 8  # hash layout: nothing prunable
    recluster(spark, str(tmp_path), _SCHEMA, "k", target_files=8)
    assert _read_back(spark, tmp_path) == before
    assert len(kept(100, 150)) <= 2  # tight spans: most files skipped
    got = read_committed_between(spark, str(tmp_path), _SCHEMA, "k", 100, 150)
    assert got.count() == 51


def test_compaction_atomic_and_lossless(spark, tmp_path):
    register(spark)
    _rows(spark, 100).repartition(8).write.format("txn_files").mode(
        "append"
    ).save(str(tmp_path))
    before = sorted(map(tuple, read_committed(spark, str(tmp_path), _SCHEMA).collect()))
    n_before = len(committed_files(str(tmp_path)))
    assert n_before > 1
    compact(spark, str(tmp_path), _SCHEMA)
    assert len(committed_files(str(tmp_path))) == 1
    after = sorted(map(tuple, read_committed(spark, str(tmp_path), _SCHEMA).collect()))
    assert after == before
    # the small files linger for in-flight readers until vacuumed
    assert vacuum(str(tmp_path), min_age_s=0) > 0
    assert len(os.listdir(tmp_path / "_txn")) == 1  # old commits reclaimed
    assert len([f for f in os.listdir(tmp_path) if f.startswith("part-")]) == 1


def test_arrow_sink_typed_roundtrip(spark, tmp_path):
    """txn_parquet carries types JSONL cannot: timestamps survive the
    round trip exactly; zone maps are collected vectorized."""
    register(spark)
    df = spark.sql(
        "SELECT id AS k, concat('v', id) AS v, "
        "timestamp_ntz'2025-01-01 00:00:00' + make_interval(0,0,0,0,0,0,id)"
        " AS ts FROM range(100)"
    ).repartitionByRange(4, "k")
    df.write.format("txn_parquet").mode("append").save(str(tmp_path))
    schema = "k bigint, v string, ts timestamp_ntz"
    back = read_committed(spark, str(tmp_path), schema)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))
    entries = committed_entries(str(tmp_path))
    assert len(entries) == 4
    for e in entries:
        assert set(e["stats"]) == {"k", "v"}  # ts: no JSON zone map
    got = read_committed_between(spark, str(tmp_path), schema, "k", 10, 19)
    assert got.count() == 10


def test_arrow_sink_shares_txn_protocol(spark, tmp_path):
    """Abort and overwrite semantics are inherited unchanged by the
    Arrow writer (shared publish/discard helpers)."""
    register(spark)

    @F.udf("string")
    def boom2(v):
        raise ValueError("injected arrow failure")

    df = _rows(spark, 4).select("k", boom2("v").alias("v"))
    with pytest.raises(Exception, match="injected"):
        df.write.format("txn_parquet").mode("append").save(str(tmp_path))
    assert committed_files(str(tmp_path)) == []
    _rows(spark, 5, "old").coalesce(1).write.format("txn_parquet").mode(
        "append"
    ).save(str(tmp_path))
    _rows(spark, 2, "new").coalesce(1).write.format("txn_parquet").mode(
        "overwrite"
    ).save(str(tmp_path))
    assert _read_back(spark, tmp_path) == [(0, "new0"), (1, "new1")]


def test_arrow_sink_compact_keeps_format(spark, tmp_path):
    register(spark)
    _rows(spark, 50).repartition(6).write.format("txn_parquet").mode(
        "append"
    ).save(str(tmp_path))
    assert len(committed_files(str(tmp_path))) > 1
    compact(spark, str(tmp_path), _SCHEMA)
    files = committed_files(str(tmp_path))
    assert len(files) == 1 and files[0].endswith(".parquet")
    assert read_committed(spark, str(tmp_path), _SCHEMA).count() == 50


def test_arrow_stream_sink_multibatch(spark, tmp_path):
    register(spark)
    src = tmp_path / "src"
    src.mkdir()
    (src / "f1.jsonl").write_text('{"k": 1, "v": "a"}\n{"k": 2, "v": "b"}\n')
    (src / "f2.jsonl").write_text('{"k": 3, "v": "c"}\n')
    out = tmp_path / "out"
    q = (
        spark.readStream.schema(_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
        .writeStream.format("txn_parquet")
        .option("checkpointLocation", str(tmp_path / "chk"))
        .trigger(availableNow=True)
        .start(str(out))
    )
    q.awaitTermination()
    assert _read_back(spark, out) == [(1, "a"), (2, "b"), (3, "c")]
    assert len(os.listdir(out / "_txn")) == 2
    assert all(f.endswith(".parquet") for f in committed_files(str(out)))


def test_vacuum_orphan_clock_starts_at_rename(tmp_path):
    """ADVICE r10: os.replace preserves the staged file's mtime, so a
    slow job whose tasks staged parts long before the driver reached
    publish must NOT have its freshly renamed (but not yet manifested)
    parts reaped by a concurrent vacuum — parts are touched at rename,
    and the orphan age guard therefore measures the rename→claim
    window, not task runtime."""
    import time

    from mapreduceframework_cpp_spark.sources.pysink import (
        _rename_parts,
        _stage_rows,
    )

    msg = _stage_rows(str(tmp_path), iter([Row(k=1, v="slow")]))
    staged = tmp_path / msg.staged
    old = time.time() - 7200  # staged two "hours" ago
    os.utime(staged, (old, old))
    doc = _rename_parts(str(tmp_path), [msg])  # crash before claim
    part = tmp_path / doc["files"][0]
    assert part.exists()
    # a vacuum with a 1h retention window runs during the rename→claim
    # crash window: the part was renamed JUST NOW, so it must survive
    assert vacuum(str(tmp_path), min_age_s=3600) == 0
    assert part.exists()
    # once genuinely old *as an orphan*, it is reclaimed
    os.utime(part, (old, old))
    assert vacuum(str(tmp_path), min_age_s=3600) == 1
    assert not part.exists()


def test_writer_style_mixing_rejected(spark, tmp_path):
    """ADVICE r10: batch manifests are sequence-numbered, streaming
    manifests batchId-numbered; interleaving them in one generation
    would conflate the numberings and corrupt snapshot/change order.
    Appending the other style raises; a batch OVERWRITE legitimately
    takes over a streaming table (new generation, sequence sorts after
    every batchId), after which the stream is locked out."""
    from mapreduceframework_cpp_spark.sources.pysink import (
        TxnFilesWriter,
        _visible_log,
    )

    register(spark)
    sw = TxnFilesStreamWriter(str(tmp_path))
    sw.commit([sw.write(iter([Row(k=1, v="s0")]))], batchId=0)
    sw.commit([sw.write(iter([Row(k=2, v="s1")]))], batchId=1)

    # batch APPEND into the streaming generation: refused, nothing
    # staged leaks into the table
    bw = TxnFilesWriter(str(tmp_path), overwrite=False)
    msg = bw.write(iter([Row(k=9, v="batch")]))
    with pytest.raises(ValueError, match="mixing writer styles"):
        bw.commit([msg])
    assert sorted(v for _, v in _read_back(spark, tmp_path)) == ["s0", "s1"]

    # maintenance (an overwrite commit) may take the table over — this
    # is how compact/recluster stay legal on streaming tables
    compact(spark, str(tmp_path), _SCHEMA)
    assert sorted(v for _, v in _read_back(spark, tmp_path)) == ["s0", "s1"]
    assert len(_visible_log(str(tmp_path))) == 1

    # the stream (same checkpoint lineage, next batchId) is now locked
    # out instead of silently corrupting the batch generation's order
    msg2 = sw.write(iter([Row(k=3, v="s2")]))
    with pytest.raises(ValueError, match="mixing writer styles"):
        sw.commit([msg2], batchId=2)
    assert sorted(v for _, v in _read_back(spark, tmp_path)) == ["s0", "s1"]


def test_concurrent_append_writers_never_lose_a_commit(tmp_path):
    """VERDICT r10 item 3: the manifest protocol under real writer
    concurrency. Eight threads append-commit simultaneously through
    the full writer path; every commit must land (slot losers retry at
    the next sequence), the visible log holds all eight at eight
    DISTINCT sequence numbers (the r12 invariant that keeps streaming
    offsets safe), and no rows are lost or duplicated."""
    from concurrent.futures import ThreadPoolExecutor

    from mapreduceframework_cpp_spark.sources.pysink import (
        TxnFilesWriter,
        _manifests,
        _seq_of,
        _visible_log,
    )

    def one(i: int) -> None:
        w = TxnFilesWriter(str(tmp_path), overwrite=False)
        w.commit([w.write(iter([Row(k=i, v=f"w{i}")]))])

    with ThreadPoolExecutor(max_workers=8) as ex:
        list(ex.map(one, range(8)))
    log = _visible_log(str(tmp_path))
    assert len(log) == 8
    assert sum(d["rows"] for d in log) == 8
    seqs = sorted(
        _seq_of(os.path.basename(m)) for m in _manifests(str(tmp_path))
    )
    assert seqs == list(range(8))  # one commit per slot, no sharing
    vals = sorted(
        json.loads(line)["v"]
        for f in committed_files(str(tmp_path))
        for line in open(f)
    )
    assert vals == [f"w{i}" for i in range(8)]


def test_concurrent_same_sequence_commits_are_total(tmp_path, monkeypatch):
    """Deterministic interleaving of the worst race: two appenders (and
    then two overwriters) resolve _next_seq BEFORE either claim lands,
    so both target the same sequence slot. Round-12 protocol: the slot
    name is DETERMINISTIC per sequence, the put-if-absent claim gives
    it to exactly one writer, and the loser retries at the next slot —
    both commits land at DISTINCT sequences (the r11 uuid-suffixed
    same-seq siblings, which could permanently drop a commit from a
    streaming consumer's offset windows, no longer exist)."""
    from mapreduceframework_cpp_spark.sources import pysink
    from mapreduceframework_cpp_spark.sources.pysink import (
        TxnFilesWriter,
        _manifests,
        _seq_of,
        _visible_log,
    )

    real_next_seq = pysink._next_seq
    stale = {"values": []}

    def next_seq(txn):
        if stale["values"]:
            return stale["values"].pop(0)  # frozen pre-race read
        return real_next_seq(txn)

    monkeypatch.setattr(pysink, "_next_seq", next_seq)

    w1 = TxnFilesWriter(str(tmp_path), overwrite=False)
    w1.commit([w1.write(iter([Row(k=1, v="a1")]))])  # claims slot 0
    # writer 2 froze sequence 0 before writer 1's claim landed: its
    # claim must LOSE the slot and retry at the real next sequence
    stale["values"] = [0]
    w2 = TxnFilesWriter(str(tmp_path), overwrite=False)
    w2.commit([w2.write(iter([Row(k=2, v="a2")]))])
    seqs = sorted(_seq_of(os.path.basename(m)) for m in _manifests(str(tmp_path)))
    assert seqs == [0, 1]  # distinct slots — never a shared sequence
    assert sum(d["rows"] for d in _visible_log(str(tmp_path))) == 2

    # two racing overwriters: the slot loser retries, both generations
    # land at distinct sequences, and the LATER one is the visible one
    o1 = TxnFilesWriter(str(tmp_path), overwrite=True)
    o1.commit([o1.write(iter([Row(k=3, v="gen1")]))])  # slot 2
    stale["values"] = [2]
    o2 = TxnFilesWriter(str(tmp_path), overwrite=True)
    o2.commit([o2.write(iter([Row(k=4, v="gen2")]))])  # retries to slot 3
    seqs = sorted(_seq_of(os.path.basename(m)) for m in _manifests(str(tmp_path)))
    assert seqs == [0, 1, 2, 3]
    log = _visible_log(str(tmp_path))
    assert len(log) == 1  # exactly one generation visible: the later
    content = "".join(open(f).read() for f in committed_files(str(tmp_path)))
    assert "gen2" in content and "gen1" not in content


def test_stream_crash_between_rename_and_claim_is_exactly_once(
    tmp_path, monkeypatch
):
    """VERDICT r10 item 6: kill the writer INSIDE the publish window —
    parts renamed, manifest claim never issued — then replay the batch
    (what a restarted stream does). The replay must commit exactly one
    copy; the crashed attempt's renamed parts stay invisible orphans
    until vacuum."""
    from mapreduceframework_cpp_spark.sources import pysink

    real_claim = pysink._claim_manifest
    crashes = {"armed": True}

    def claim_with_crash(txn, name, doc):
        if crashes["armed"]:
            crashes["armed"] = False
            raise RuntimeError("injected crash before manifest claim")
        return real_claim(txn, name, doc)

    monkeypatch.setattr(pysink, "_claim_manifest", claim_with_crash)
    w = TxnFilesStreamWriter(str(tmp_path))
    rows = [Row(k=1, v="once")]
    with pytest.raises(RuntimeError, match="injected crash"):
        w.commit([w.write(iter(rows))], batchId=0)
    # crash window state: a renamed part exists, nothing committed
    orphans = [f for f in os.listdir(tmp_path) if f.startswith("part-")]
    assert len(orphans) == 1
    assert committed_files(str(tmp_path)) == []
    # restart → the source replays batch 0 from the checkpoint
    w2 = TxnFilesStreamWriter(str(tmp_path))
    w2.commit([w2.write(iter(rows))], batchId=0)
    files = committed_files(str(tmp_path))
    assert len(files) == 1
    assert open(files[0]).read().count("once") == 1
    # second replay (restart after the successful commit) still no-ops
    w2.commit([w2.write(iter(rows))], batchId=0)
    assert committed_files(str(tmp_path)) == files
    # the crashed attempt's orphan is invisible and vacuumable
    assert vacuum(str(tmp_path), min_age_s=0) == 1
    assert committed_files(str(tmp_path)) == files
    assert len([f for f in os.listdir(tmp_path) if f.startswith("part-")]) == 1


def test_format_reader_symmetric_roundtrip(spark, tmp_path):
    """VERDICT r10 item 4: `spark.read.format("txn_files"|"txn_parquet")`
    is symmetric with the writer — no library helper, no user schema
    (the manifest carries the committed StructType), manifest-scoped
    visibility, asOf time travel through the format API."""
    register(spark)
    df = _rows(spark, 100).repartition(4)
    for fmt, path in (("txn_parquet", tmp_path / "pq"), ("txn_files", tmp_path / "js")):
        df.write.format(fmt).mode("append").save(str(path))
        back = spark.read.format(fmt).load(str(path))
        assert back.schema.simpleString() == "struct<k:bigint,v:string>"
        assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))
        # staged/orphaned files stay invisible through the format API
        (path / "part-orphan.jsonl").write_text('{"k": 999, "v": "g"}\n')
        assert spark.read.format(fmt).load(str(path)).count() == 100
        # asOf: second commit invisible at snapshot 1
        _rows(spark, 5, "z").coalesce(1).write.format(fmt).mode("append").save(str(path))
        assert spark.read.format(fmt).option("asOf", 1).load(str(path)).count() == 100
        assert spark.read.format(fmt).load(str(path)).count() == 105


def test_format_reader_pushdown_prunes_partitions(spark, tmp_path):
    """The pushed key-range must shrink the PLANNED partition list (one
    partition per committed file) at the manifest, while the result
    stays exact — and a filter the zone maps cannot serve (no stats /
    cross-type) keeps files conservatively."""
    from pyspark.sql.datasource import (
        EqualTo,
        GreaterThanOrEqual,
        IsNotNull,
        LessThanOrEqual,
    )

    from mapreduceframework_cpp_spark.sources.pysink import (
        TxnParquetDataSource,
        committed_entries,
    )

    register(spark)
    _rows(spark, 1000).repartitionByRange(10, "k").write.format(
        "txn_parquet"
    ).mode("append").save(str(tmp_path))
    total = len(committed_entries(str(tmp_path)))
    assert total == 10

    src = TxnParquetDataSource(
        options={"path": str(tmp_path), "pushdown": "true"}
    )
    rd = src.reader(src.schema())
    residual = rd.pushFilters(
        [GreaterThanOrEqual(("k",), 200), LessThanOrEqual(("k",), 250),
         IsNotNull(("k",))]
    )
    assert len(list(residual)) == 3  # ALL filters stay residual
    assert len(rd.partitions()) < total

    rd_eq = src.reader(src.schema())
    rd_eq.pushFilters([EqualTo(("k",), 42)])
    assert len(rd_eq.partitions()) == 1

    # impossible range → zero partitions, and the engine read of the
    # same predicate returns an empty (not failing) result
    rd_none = src.reader(src.schema())
    rd_none.pushFilters([GreaterThanOrEqual(("k",), 10_000)])
    assert rd_none.partitions() == []
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    try:
        got = (
            spark.read.format("txn_parquet")
            .option("pushdown", "true")
            .load(str(tmp_path))
            .where("k between 200 and 250")
        )
        assert sorted(r.k for r in got.collect()) == list(range(200, 251))
        empty = (
            spark.read.format("txn_parquet")
            .option("pushdown", "true")
            .load(str(tmp_path))
            .where("k > 10000")
        )
        assert empty.count() == 0
    finally:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "false")

    # cross-type filter vs the stats: conservative, never wrong
    rd_str = src.reader(src.schema())
    rd_str.pushFilters([EqualTo(("k",), "not-a-number")])
    assert len(rd_str.partitions()) == total


def test_format_reader_empty_table_requires_schema(spark, tmp_path):
    register(spark)
    os.makedirs(tmp_path / "_txn")
    with pytest.raises(Exception, match="no committed schema"):
        spark.read.format("txn_files").load(str(tmp_path)).count()
    # explicit schema unblocks the read
    got = spark.read.format("txn_files").schema(_SCHEMA).load(str(tmp_path))
    assert got.count() == 0


def test_merge_into_prunes_and_upserts(spark, tmp_path):
    """File-pruned MERGE: on a range-clustered table, an upsert whose
    source spans a narrow key range rewrites ONLY the intersecting
    files (untouched part names survive verbatim), the delta commit's
    removes are applied atomically by readers, removed bytes persist
    until vacuum, and delete-mode removes matched rows only."""
    import pyspark.sql.functions as F

    from mapreduceframework_cpp_spark.sources.pysink import merge_into

    register(spark)
    _rows(spark, 1000).repartitionByRange(10, "k").write.format(
        "txn_parquet"
    ).mode("append").save(str(tmp_path))
    before = {os.path.basename(e["name"]) for e in committed_entries(str(tmp_path))}

    upd = spark.range(200, 260).select(
        F.col("id").alias("k"), F.lit("upd").alias("v")
    )
    stats = merge_into(spark, str(tmp_path), _SCHEMA, upd, "k")
    assert stats["files_total"] == 10
    assert stats["files_touched"] == 1  # 200..259 sits in one range file
    after = {os.path.basename(e["name"]) for e in committed_entries(str(tmp_path))}
    assert len(before & after) == 9  # untouched files survive verbatim
    back = read_committed(spark, str(tmp_path), _SCHEMA)
    assert back.count() == 1000
    assert back.where("v = 'upd'").count() == 60
    assert back.where("v like 'a%'").count() == 940
    # removed files persist for in-flight readers until vacuum
    removed = before - after
    assert removed and all(
        os.path.exists(tmp_path / n) for n in removed
    )
    assert vacuum(str(tmp_path)) == 0  # retention window
    assert vacuum(str(tmp_path), min_age_s=0) == len(removed)
    assert not any(os.path.exists(tmp_path / n) for n in removed)
    assert read_committed(spark, str(tmp_path), _SCHEMA).count() == 1000

    # inserts: keys beyond the table's range are appended
    ins = spark.range(5000, 5005).select(
        F.col("id").alias("k"), F.lit("ins").alias("v")
    )
    merge_into(spark, str(tmp_path), _SCHEMA, ins, "k")
    assert read_committed(spark, str(tmp_path), _SCHEMA).count() == 1005

    # delete mode: matched rows vanish, nothing inserted
    stats = merge_into(
        spark, str(tmp_path), _SCHEMA,
        spark.range(5000, 5010).select(F.col("id").alias("k")),
        "k", when_matched="delete",
    )
    back = read_committed(spark, str(tmp_path), _SCHEMA)
    assert back.count() == 1000
    assert back.where("v = 'ins'").count() == 0


def test_stream_source_tails_the_log(spark, tmp_path):
    """Streaming SOURCE over the manifest log: each availableNow run
    consumes exactly the commits since the checkpointed offset
    (exactly-once across restarts, empty windows emit nothing), and a
    maintenance/replaces commit inside the window raises instead of
    silently re-emitting rewritten rows."""
    import pyspark.sql.functions as F

    src = tmp_path / "table"
    out = tmp_path / "out"
    chk = tmp_path / "chk"

    def run_once():
        q = (
            spark.readStream.format("txn_files")
            .load(str(src))
            .writeStream.foreachBatch(
                lambda df, bid: df.write.mode("append").parquet(str(out))
            )
            .option("checkpointLocation", str(chk))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    register(spark)
    _rows(spark, 3, "a").coalesce(1).write.format("txn_files").mode(
        "append"
    ).save(str(src))
    run_once()
    assert spark.read.parquet(str(out)).count() == 3
    # two more commits land; the restarted stream reads ONLY those
    _rows(spark, 4, "b").coalesce(1).write.format("txn_files").mode(
        "append"
    ).save(str(src))
    _rows(spark, 2, "c").coalesce(1).write.format("txn_files").mode(
        "append"
    ).save(str(src))
    run_once()
    got = spark.read.parquet(str(out))
    assert got.count() == 9
    assert got.where(F.col("v").startswith("a")).count() == 3  # no re-emit
    run_once()  # empty window: nothing new
    assert spark.read.parquet(str(out)).count() == 9
    # a replaces commit breaks append-only: the stream must refuse
    compact(spark, str(src), _SCHEMA)
    with pytest.raises(Exception, match="append-only"):
        run_once()


def test_in_filter_prunes_and_changes_guard(spark, tmp_path):
    """(round-11 self-review) The In filter's literal tuple is its
    `value` field — pushFilters must prune from it, not crash; and
    read_changes must refuse a window containing a delta commit (its
    files REWRITE earlier rows, so a CDC consumer would double-count
    survivors)."""
    import pyspark.sql.functions as F
    from pyspark.sql.datasource import In

    from mapreduceframework_cpp_spark.sources.pysink import (
        TxnParquetDataSource,
        merge_into,
    )

    register(spark)
    _rows(spark, 1000).repartitionByRange(10, "k").write.format(
        "txn_parquet"
    ).mode("append").save(str(tmp_path))
    src = TxnParquetDataSource(
        options={"path": str(tmp_path), "pushdown": "true"}
    )
    rd = src.reader(src.schema())
    rd.pushFilters([In(("k",), (205, 210, 250))])
    assert len(rd.partitions()) == 1  # all three literals in one file
    # end-to-end through the engine
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    try:
        got = (
            spark.read.format("txn_parquet")
            .option("pushdown", "true")
            .load(str(tmp_path))
            .where(F.col("k").isin(205, 210, 250))
        )
        assert sorted(r.k for r in got.collect()) == [205, 210, 250]
    finally:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "false")

    # change windows refuse delta commits
    _rows(spark, 5, "z").coalesce(1).write.format("txn_parquet").mode(
        "append"
    ).save(str(tmp_path))  # commit 2: plain append — fine in a window
    assert read_changes(spark, str(tmp_path), _SCHEMA, 1, 2).count() == 5
    merge_into(
        spark, str(tmp_path), _SCHEMA,
        spark.range(100, 110).select(
            F.col("id").alias("k"), F.lit("m").alias("v")
        ),
        "k",
    )  # commit 3: delta
    with pytest.raises(ValueError, match="delta commit"):
        read_changes(spark, str(tmp_path), _SCHEMA, 1, 3)
    # a window BEFORE the delta commit still serves
    assert read_changes(spark, str(tmp_path), _SCHEMA, 1, 2).count() == 5


def test_narrow_schema_read_prunes_columns(spark, tmp_path):
    """An explicit narrow .schema() on the format read decodes only
    those parquet column chunks (iter_batches(columns=...)) — the
    file-level ReadSchema behavior — and still serves exact values, in
    the requested column order, including a column some files lack."""
    import pyspark.sql.functions as F

    register(spark)
    spark.range(100).select(
        F.col("id").alias("k"),
        F.concat(F.lit("v"), F.col("id")).alias("v"),
        (F.col("id") * 1.5).alias("x"),
    ).coalesce(1).write.format("txn_parquet").mode("append").save(str(tmp_path))
    narrow = spark.read.format("txn_parquet").schema("x double, k bigint").load(
        str(tmp_path)
    )
    assert narrow.columns == ["x", "k"]
    rows = sorted((r.k, r.x) for r in narrow.collect())
    assert rows[0] == (0, 0.0) and rows[99] == (99, 148.5)
    # a requested column absent from the file pads with nulls
    ghost = spark.read.format("txn_parquet").schema(
        "k bigint, missing string"
    ).load(str(tmp_path))
    assert ghost.where("missing is null").count() == 100


def test_delta_retention_clock_is_the_removing_manifest(spark, tmp_path):
    """Removed-by-merge files are reclaimed on the REMOVING manifest's
    age, not the parts' own mtimes: an old part removed by a fresh
    merge must survive the retention window (a reader that planned on
    the pre-merge snapshot may still be scanning it), and backdating
    the remover releases it."""
    import time

    import pyspark.sql.functions as F

    from mapreduceframework_cpp_spark.sources.pysink import (
        _manifests,
        merge_into,
    )

    register(spark)
    _rows(spark, 100).coalesce(1).write.format("txn_parquet").mode(
        "append"
    ).save(str(tmp_path))
    old_part = committed_files(str(tmp_path))[0]
    stale = time.time() - 7200
    os.utime(old_part, (stale, stale))  # the data is two "hours" old
    merge_into(
        spark, str(tmp_path), _SCHEMA,
        spark.range(5).select(F.col("id").alias("k"), F.lit("m").alias("v")),
        "k",
    )
    assert os.path.exists(old_part)  # unlisted, not deleted
    # fresh remover: the old part survives a 1h retention vacuum even
    # though its own mtime is ancient
    assert vacuum(str(tmp_path), min_age_s=3600) == 0
    assert os.path.exists(old_part)
    # backdate the removing manifest (visibility was lost long ago)
    remover = [
        m for m in _manifests(str(tmp_path))
        if json.load(open(m)).get("removes")
    ][0]
    os.utime(remover, (stale, stale))
    assert vacuum(str(tmp_path), min_age_s=3600) == 1
    assert not os.path.exists(old_part)
    assert read_committed(spark, str(tmp_path), _SCHEMA).count() == 100


def test_schema_evolution_add_and_widen(spark, tmp_path):
    """Schema evolution at scan time: a later commit may ADD a column
    (files that predate it pad with typed nulls — and the merged
    schema must be nullable, or codegen reads the padding unchecked)
    or WIDEN a column (older files cast up). Works on both staged
    formats; time travel to the pre-evolution snapshot serves the old
    shape."""
    import pyspark.sql.functions as F

    register(spark)
    for fmt, path in (("txn_parquet", tmp_path / "pq"), ("txn_files", tmp_path / "js")):
        spark.range(5).select(
            F.col("id").alias("k"), F.lit("v1").alias("v")
        ).coalesce(1).write.format(fmt).mode("append").save(str(path))
        spark.range(5, 9).select(
            F.col("id").alias("k"),
            F.lit("v2").alias("v"),
            (F.col("id") * 10).alias("w"),
        ).coalesce(1).write.format(fmt).mode("append").save(str(path))
        back = spark.read.format(fmt).load(str(path))
        assert back.schema.simpleString() == "struct<k:bigint,v:string,w:bigint>"
        assert all(f.nullable for f in back.schema.fields)
        rows = sorted((r.k, r.w) for r in back.collect())
        assert rows[:5] == [(i, None) for i in range(5)]
        assert rows[5:] == [(i, i * 10) for i in range(5, 9)]
        # the pre-evolution snapshot still reads with the old shape
        s1 = spark.read.format(fmt).option("asOf", 1).load(str(path))
        assert s1.columns == ["k", "v", "w"]  # merged shape, null w
        assert s1.where("w is not null").count() == 0

    # widening: int32 files cast up when a later commit is int64
    wd = tmp_path / "wide"
    spark.range(3).select(F.col("id").cast("int").alias("k")).coalesce(1).write.format(
        "txn_parquet"
    ).mode("append").save(str(wd))
    spark.range(3, 5).select(F.col("id").alias("k")).coalesce(1).write.format(
        "txn_parquet"
    ).mode("append").save(str(wd))
    bw = spark.read.format("txn_parquet").load(str(wd))
    assert bw.schema.simpleString() == "struct<k:bigint>"
    assert sorted(r.k for r in bw.collect()) == [0, 1, 2, 3, 4]


def test_stream_end_to_end_multibatch(spark, tmp_path):
    """Real writeStream: two input files under maxFilesPerTrigger=1 →
    two micro-batches → two manifests; read-back equals the batch
    read of the same input."""
    register(spark)
    src = tmp_path / "src"
    src.mkdir()
    (src / "f1.jsonl").write_text('{"k": 1, "v": "a"}\n{"k": 2, "v": "b"}\n')
    (src / "f2.jsonl").write_text('{"k": 3, "v": "c"}\n')
    out = tmp_path / "out"
    q = (
        spark.readStream.schema(_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
        .writeStream.format("txn_files")
        .option("checkpointLocation", str(tmp_path / "chk"))
        .trigger(availableNow=True)
        .start(str(out))
    )
    q.awaitTermination()
    assert _read_back(spark, out) == [(1, "a"), (2, "b"), (3, "c")]
    assert len(os.listdir(out / "_txn")) == 2


# ---------------------------------------------------------------------------
# round 12: commit-time OCC, cross-process atomicity, stream maintenance
# resumption, declared clustering, evolution composition, legacy guards
# ---------------------------------------------------------------------------


def test_racing_merges_exactly_one_wins(spark, tmp_path):
    """VERDICT r11 item 2: two merges planned against the SAME snapshot
    with overlapping key spans. The first to commit wins; the second's
    delta commit finds its removed file already unpublished and raises
    ConcurrentCommitError instead of silently double-removing. The
    table ends in the winner's post-merge state; the loser's parts are
    cleaned up."""
    from mapreduceframework_cpp_spark.sources.pysink import merge_into

    register(spark)
    _rows(spark, 1000).repartitionByRange(10, "k").write.format(
        "txn_parquet"
    ).mode("append").save(str(tmp_path))
    entries = committed_entries(str(tmp_path))

    # merge B plans NOW (pre-A snapshot): the files its span overlaps
    # and the delta commit it would publish
    b_touched = [
        e for e in entries
        if e["stats"]["k"][0] <= 259 and 210 <= e["stats"]["k"][1]
    ]
    assert len(b_touched) == 1
    b_removes = sorted(os.path.basename(e["name"]) for e in b_touched)
    b_survivors = spark.read.parquet(
        *[e["name"] for e in b_touched]
    ).where("k < 210 OR k > 259")
    b_rewritten = b_survivors.unionByName(
        spark.range(210, 260).selectExpr("id AS k", "'B' AS v")
    )
    b_rewritten = b_rewritten.localCheckpoint()  # materialize pre-race

    # merge A lands first (overlapping span 200..259)
    upd_a = spark.range(200, 260).selectExpr("id AS k", "'A' AS v")
    stats = merge_into(spark, str(tmp_path), _SCHEMA, upd_a, "k")
    assert stats["files_touched"] == 1

    # merge B's planned delta commit must LOSE, loudly
    with pytest.raises(Exception, match="already removed"):
        b_rewritten.write.format("txn_parquet").mode("append").option(
            "removes", json.dumps(b_removes)
        ).save(str(tmp_path))

    back = read_committed(spark, str(tmp_path), _SCHEMA)
    assert back.count() == 1000  # never a double-remove
    assert back.where("v = 'A'").count() == 60  # winner's state intact
    assert back.where("v = 'B'").count() == 0
    # the loser's renamed parts were deleted, not leaked: every part on
    # disk is referenced by some manifest (live or awaiting vacuum)
    manifested = {
        f
        for m in os.listdir(tmp_path / "_txn")
        for f in json.load(open(tmp_path / "_txn" / m))["files"]
    }
    on_disk = {f for f in os.listdir(tmp_path) if f.startswith("part-")}
    assert on_disk <= manifested


def test_merge_vs_compact_race_fails_the_compact(spark, tmp_path):
    """VERDICT r11 item 2 (second race): a compact/recluster rewrite
    pins its planning snapshot as the commit's ``basis``; a merge
    landing mid-rewrite makes the rewrite's commit raise
    ConcurrentCommitError — publishing it would silently drop the
    merge. A re-planned compact then succeeds and preserves the
    merge's rows."""
    from mapreduceframework_cpp_spark.sources.pysink import (
        _latest_manifest,
        compact,
        merge_into,
    )

    register(spark)
    _rows(spark, 400).repartitionByRange(4, "k").write.format(
        "txn_parquet"
    ).mode("append").save(str(tmp_path))

    # the compact plans here: basis = current log head
    stale_basis = _latest_manifest(str(tmp_path))
    planned = read_committed(spark, str(tmp_path), _SCHEMA).localCheckpoint()

    # a merge lands mid-rewrite
    upd = spark.range(100, 120).selectExpr("id AS k", "'M' AS v")
    merge_into(spark, str(tmp_path), _SCHEMA, upd, "k")

    # the stale-planned compact's commit must refuse
    with pytest.raises(Exception, match="advanced past"):
        planned.coalesce(1).write.format("txn_parquet").mode(
            "overwrite"
        ).option("basis", stale_basis).save(str(tmp_path))
    back = read_committed(spark, str(tmp_path), _SCHEMA)
    assert back.where("v = 'M'").count() == 20  # merge never lost

    # re-planned compact succeeds and keeps the merged state
    compact(spark, str(tmp_path), _SCHEMA)
    back = read_committed(spark, str(tmp_path), _SCHEMA)
    assert back.count() == 400
    assert back.where("v = 'M'").count() == 20


_MP_COMMIT_SRC = """
import os, sys, time
sys.path.insert(0, os.getcwd())
from pyspark.sql import Row
from mapreduceframework_cpp_spark.sources.pysink import (
    TxnFilesWriter,
)
path, i, mode, gate = sys.argv[1], int(sys.argv[2]), sys.argv[3], sys.argv[4]
w = TxnFilesWriter(path, overwrite=(mode == "overwrite"))
msg = w.write(iter([Row(k=i, v="%s%d" % (mode[0], i))]))
# barrier: announce readiness, then spin until the parent says go —
# all processes reach their commit attempt together
open(os.path.join(gate, "ready-%d" % i), "w").close()
while not os.path.exists(os.path.join(gate, "go")):
    time.sleep(0.01)
w.commit([msg])
"""


def test_cross_process_append_race_is_atomic(tmp_path):
    """VERDICT r11 item 3: the put-if-absent manifest claim's atomicity
    across PROCESSES (os.link EEXIST on a real filesystem), not just
    thread-level serialization. Eight separate interpreters stage,
    barrier, then commit simultaneously; all eight must land at eight
    distinct sequences with no lost or duplicated rows."""
    import os as _os

    from mapreduceframework_cpp_spark.sources.pysink import (
        _manifests,
        _seq_of,
        _visible_log,
    )

    table = tmp_path / "table"
    gate = tmp_path / "gate"
    table.mkdir()
    gate.mkdir()
    repo_root = _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))

    import subprocess
    import sys as _sys
    import time as _time

    procs = [
        subprocess.Popen(
            [_sys.executable, "-c", _MP_COMMIT_SRC,
             str(table), str(i), "append", str(gate)],
            cwd=repo_root,
        )
        for i in range(8)
    ]
    deadline = _time.time() + 120
    while len([f for f in _os.listdir(gate) if f.startswith("ready-")]) < 8:
        assert _time.time() < deadline, "children never became ready"
        _time.sleep(0.05)
    (gate / "go").touch()
    for p in procs:
        assert p.wait(timeout=120) == 0

    log = _visible_log(str(table))
    assert len(log) == 8
    assert sum(d["rows"] for d in log) == 8
    seqs = sorted(_seq_of(_os.path.basename(m)) for m in _manifests(str(table)))
    assert seqs == list(range(8))
    vals = sorted(
        json.loads(line)["v"]
        for f in committed_files(str(table))
        for line in open(f)
    )
    assert vals == [f"a{i}" for i in range(8)]


def test_cross_process_overwrite_race_one_generation(tmp_path):
    """Cross-process sibling of the overwrite generation race: two
    interpreters overwrite-commit simultaneously; both land (slot
    losers retry), at distinct sequences, and exactly ONE generation
    is visible afterwards."""
    import os as _os
    import subprocess
    import sys as _sys
    import time as _time

    from mapreduceframework_cpp_spark.sources.pysink import (
        _manifests,
        _seq_of,
        _visible_log,
    )

    table = tmp_path / "table"
    gate = tmp_path / "gate"
    table.mkdir()
    gate.mkdir()
    repo_root = _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))
    procs = [
        subprocess.Popen(
            [_sys.executable, "-c", _MP_COMMIT_SRC,
             str(table), str(i), "overwrite", str(gate)],
            cwd=repo_root,
        )
        for i in range(2)
    ]
    deadline = _time.time() + 120
    while len([f for f in _os.listdir(gate) if f.startswith("ready-")]) < 2:
        assert _time.time() < deadline, "children never became ready"
        _time.sleep(0.05)
    (gate / "go").touch()
    for p in procs:
        assert p.wait(timeout=120) == 0

    seqs = sorted(_seq_of(_os.path.basename(m)) for m in _manifests(str(table)))
    assert seqs == [0, 1]  # both landed, distinct slots
    log = _visible_log(str(table))
    assert len(log) == 1  # exactly one visible generation
    assert sum(d["rows"] for d in log) == 1


def test_stream_skip_change_commits_survives_maintenance(spark, tmp_path):
    """VERDICT r11 item 4: option("skipChangeCommits", "true") — the
    Delta-parity opt-in that lets a long-lived stream survive table
    maintenance. A checkpointed stream that consumed commit A resumes
    AFTER a compact and a later append B: without the option the resume
    raises (unchanged default); with it, the compact's rewrite commit
    is skipped and only B is delivered — no duplicates of A's rows."""
    src = tmp_path / "table"
    out = tmp_path / "out"
    chk = tmp_path / "chk"

    def run_once(skip: bool):
        rs = spark.readStream.format("txn_files")
        if skip:
            rs = rs.option("skipChangeCommits", "true")
        q = (
            rs.load(str(src))
            .writeStream.foreachBatch(
                lambda df, bid: df.write.mode("append").parquet(str(out))
            )
            .option("checkpointLocation", str(chk))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    register(spark)
    _rows(spark, 3, "a").coalesce(1).write.format("txn_files").mode(
        "append"
    ).save(str(src))
    run_once(skip=False)
    assert spark.read.parquet(str(out)).count() == 3

    compact(spark, str(src), _SCHEMA)  # maintenance lands mid-stream
    _rows(spark, 4, "b").coalesce(1).write.format("txn_files").mode(
        "append"
    ).save(str(src))

    # default posture unchanged: the resume refuses the replaces commit
    with pytest.raises(Exception, match="append-only"):
        run_once(skip=False)
    # opt-in: the compact is skipped, only the new append is delivered
    run_once(skip=True)
    got = spark.read.parquet(str(out))
    assert got.count() == 7  # 3 original + 4 new, zero re-emitted rows
    assert got.where(F.col("v").startswith("a")).count() == 3
    assert got.where(F.col("v").startswith("b")).count() == 4

    # a skipped MERGE (delta commit) behaves the same: its rewrites
    # (and the inserts riding in it) are not delivered — documented
    # at-least-once-minus-rewrites
    from mapreduceframework_cpp_spark.sources.pysink import merge_into

    upd = spark.range(0, 2).selectExpr("id AS k", "'m' AS v")
    merge_into(spark, str(src), _SCHEMA, upd, "k")
    _rows(spark, 1, "c").coalesce(1).write.format("txn_files").mode(
        "append"
    ).save(str(src))
    run_once(skip=True)
    got = spark.read.parquet(str(out))
    assert got.count() == 8
    assert got.where(F.col("v").startswith("c")).count() == 1
    assert got.where(F.col("v") == "m").count() == 0


def test_write_clustered_declares_and_prunes(spark, tmp_path):
    """VERDICT r11 item 5: declared clustering at write time.
    write_clustered range-shuffles on the key and records the column in
    the manifest; each staged file covers a tight near-disjoint span,
    so a key-range read prunes without the caller hand-shuffling; and
    recluster() with no column defaults to the recorded one."""
    from mapreduceframework_cpp_spark.sources.pysink import (
        recluster,
        table_cluster_by,
        write_clustered,
    )

    register(spark)
    write_clustered(
        _rows(spark, 1000), str(tmp_path), "k", target_files=8,
        fmt="txn_parquet",
    )
    assert table_cluster_by(str(tmp_path)) == "k"
    entries = committed_entries(str(tmp_path))
    assert len(entries) == 8
    # tight spans: near-disjoint coverage of 0..999, and a point-range
    # read intersects at most 2 of the 8 files
    spans = sorted((e["stats"]["k"][0], e["stats"]["k"][1]) for e in entries)
    assert sum(hi - lo + 1 for lo, hi in spans) <= 1100
    for (_, hi1), (lo2, _) in zip(spans, spans[1:]):
        assert hi1 < lo2  # repartitionByRange: disjoint key ranges
    hits = [
        e for e in entries
        if e["stats"]["k"][0] <= 199 and 100 <= e["stats"]["k"][1]
    ]
    assert len(hits) <= 2
    got = read_committed_between(spark, str(tmp_path), _SCHEMA, "k", 100, 199)
    assert sorted(r.k for r in got.collect()) == list(range(100, 200))

    # maintenance inherits the declared column — no restating the key
    recluster(spark, str(tmp_path), _SCHEMA, target_files=4)
    assert table_cluster_by(str(tmp_path)) == "k"
    entries = committed_entries(str(tmp_path))
    assert len(entries) == 4
    spans = sorted((e["stats"]["k"][0], e["stats"]["k"][1]) for e in entries)
    for (_, hi1), (lo2, _) in zip(spans, spans[1:]):
        assert hi1 < lo2
    assert read_committed(spark, str(tmp_path), _SCHEMA).count() == 1000

    # a table that never declared clustering refuses a column-less
    # recluster instead of guessing
    plain = tmp_path / "plain"
    _rows(spark, 10).coalesce(1).write.format("txn_files").mode(
        "append"
    ).save(str(plain))
    with pytest.raises(ValueError, match="no manifest-recorded clustering"):
        recluster(spark, str(plain), _SCHEMA)


def test_merge_insert_keys_do_not_collapse_pruning(spark, tmp_path):
    """ADVICE r11: merge_into's prune span is computed over the source
    keys CLAMPED to the table's global zone-map range — pure-insert
    keys far outside the table must not widen the span. A merge whose
    source is 60 in-range updates plus inserts at key+1000000 still
    touches exactly 1 of 10 files."""
    from mapreduceframework_cpp_spark.sources.pysink import merge_into

    register(spark)
    _rows(spark, 1000).repartitionByRange(10, "k").write.format(
        "txn_parquet"
    ).mode("append").save(str(tmp_path))
    source = (
        spark.range(200, 260).selectExpr("id AS k", "'upd' AS v")
        .unionByName(
            spark.range(1000000, 1000050).selectExpr("id AS k", "'ins' AS v")
        )
    )
    stats = merge_into(spark, str(tmp_path), _SCHEMA, source, "k")
    assert stats["files_total"] == 10
    assert stats["files_touched"] == 1  # inserts no longer widen it
    back = read_committed(spark, str(tmp_path), _SCHEMA)
    assert back.count() == 1050
    assert back.where("v = 'upd'").count() == 60
    assert back.where("v = 'ins'").count() == 50

    # stored stats whose type cannot compare against the source key
    # (e.g. a writer that recorded string bounds) must fall back to a
    # conservative rewrite of that file, never a plan-time TypeError
    m = sorted((tmp_path / "_txn").glob("manifest-*.json"))[0]
    doc = json.loads(m.read_text())
    victim = None
    for e in doc["entries"]:
        if e["stats"]["k"][1] < 100:  # a file far from the next span
            e["stats"]["k"] = ["aaa", "zzz"]
            victim = e["name"]
    assert victim is not None
    m.write_text(json.dumps(doc))
    before = {os.path.basename(e["name"]) for e in committed_entries(str(tmp_path))}
    src2 = spark.range(700, 710).selectExpr("id AS k", "'t2' AS v")
    stats = merge_into(spark, str(tmp_path), _SCHEMA, src2, "k")
    after = {os.path.basename(e["name"]) for e in committed_entries(str(tmp_path))}
    assert victim in before - after  # uncomparable stats: rewritten
    back = read_committed(spark, str(tmp_path), _SCHEMA)
    assert back.count() == 1050
    assert back.where("v = 't2'").count() == 10


def test_evolution_pushdown_time_travel_compose(spark, tmp_path):
    """VERDICT r11 item 6: schema evolution × zone-map pushdown × asOf
    on ONE table. Commit 1 writes (k, v); commit 2 adds w. Pushdown on
    k prunes across both generations of files; a filter on the EVOLVED
    column w keeps pre-evolution files conservatively (they lack w
    stats) and pads w with NULLs row-level; asOf=1 composed with
    pushdown serves the merged schema over commit 1 only."""
    from mapreduceframework_cpp_spark.sources.pysink import (
        TxnParquetDataSource,
    )
    from pyspark.sql.datasource import GreaterThanOrEqual, LessThanOrEqual

    register(spark)
    spark.range(0, 500).selectExpr("id AS k", "concat('a', id) AS v") \
        .repartitionByRange(4, "k").write.format("txn_parquet") \
        .mode("append").save(str(tmp_path))
    spark.range(500, 1000).selectExpr(
        "id AS k", "concat('b', id) AS v", "id * 2 AS w"
    ).repartitionByRange(4, "k").write.format("txn_parquet") \
        .mode("append").save(str(tmp_path))

    src = TxnParquetDataSource(options={"path": str(tmp_path), "pushdown": "true"})
    merged = src.schema()
    assert [f.name for f in merged.fields] == ["k", "v", "w"]

    # pushdown on k prunes across BOTH generations (8 files -> <=2;
    # repartitionByRange samples boundaries, so the 100-key window may
    # straddle one file edge)
    rd = src.reader(merged)
    rd.pushFilters([GreaterThanOrEqual(("k",), 600), LessThanOrEqual(("k",), 699)])
    assert 1 <= len(rd.partitions()) <= 2

    # a filter on the evolved column keeps pre-evolution files (no w
    # stats -> conservative), prunes post-evolution files by stats
    rd2 = src.reader(merged)
    rd2.pushFilters([GreaterThanOrEqual(("w",), 1900)])
    kept = len(rd2.partitions())
    assert 4 <= kept < 8  # all 4 old files kept + pruned new files

    # end-to-end through the session: evolution + pushdown + asOf
    old = spark.conf.get("spark.sql.python.filterPushdown.enabled", None)
    try:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
        full = (
            spark.read.format("txn_parquet")
            .option("pushdown", "true")
            .load(str(tmp_path))
        )
        hit = full.where("k BETWEEN 600 AND 699")
        assert hit.count() == 100
        assert hit.where("w = k * 2").count() == 100
        nulls = full.where("k < 500")
        assert nulls.where("w IS NULL").count() == 500
        snap = (
            spark.read.format("txn_parquet")
            .option("pushdown", "true")
            .option("asOf", 1)
            .load(str(tmp_path))
            .where("k >= 100")
        )
        # time travel sees commit 1 only, served under the MERGED
        # schema: w exists and is NULL-padded on every row
        assert snap.count() == 400
        assert snap.where("w IS NULL").count() == 400
    finally:
        if old is None:
            spark.conf.unset("spark.sql.python.filterPushdown.enabled")
        else:
            spark.conf.set("spark.sql.python.filterPushdown.enabled", old)


def test_legacy_width_manifests_refused(spark, tmp_path):
    """ADVICE r11: sorted-name order is load-bearing, and a 20-digit
    name sorts BEFORE a legacy 10-digit one even at a higher sequence.
    Any commit or stream read over a log holding legacy-width names
    must refuse instead of silently corrupting snapshot order."""
    from pyspark.sql.types import StructType

    from mapreduceframework_cpp_spark.sources.pysink import (
        TxnFilesWriter,
        _TxnStreamReader,
        _publish,
    )

    w = TxnFilesWriter(str(tmp_path), overwrite=False)
    msg = w.write(iter([Row(k=1, v="legacy")]))
    assert _publish(
        str(tmp_path), [msg], "manifest-0000000001-deadbeef.json"
    )

    w2 = TxnFilesWriter(str(tmp_path), overwrite=False)
    msg2 = w2.write(iter([Row(k=2, v="new")]))
    with pytest.raises(ValueError, match="legacy sequence width"):
        w2.commit([msg2])
    w2.abort([msg2])

    # overwrite/takeover refuses too: its max+1 name would sort first
    w3 = TxnFilesWriter(str(tmp_path), overwrite=True)
    msg3 = w3.write(iter([Row(k=3, v="gen")]))
    with pytest.raises(ValueError, match="legacy sequence width"):
        w3.commit([msg3])
    w3.abort([msg3])

    # the streaming writer and the streaming source refuse as well
    sw = TxnFilesStreamWriter(str(tmp_path))
    msg4 = sw.write(iter([Row(k=4, v="s")]))
    with pytest.raises(ValueError, match="legacy sequence width"):
        sw.commit([msg4], batchId=0)
    sw.abort([msg4], batchId=0)

    rd = _TxnStreamReader(str(tmp_path), StructType.fromDDL(_SCHEMA))
    with pytest.raises(ValueError, match="legacy sequence width"):
        rd.partitions({"last": ""}, {"last": "manifest-zzz"})


def test_stream_refuses_same_sequence_log(tmp_path):
    """ADVICE r11 (medium): offsets are manifest NAMES, so a log where
    two batch commits share a sequence number (pre-r12 uuid siblings)
    can place a never-consumed name at or before a checkpointed offset
    — silently lost data. The streaming source detects the ambiguity
    and refuses the log outright."""
    from pyspark.sql.types import StructType

    from mapreduceframework_cpp_spark.sources.pysink import (
        TxnFilesWriter,
        _TxnStreamReader,
        _publish,
    )

    w = TxnFilesWriter(str(tmp_path), overwrite=False)
    for tag, suffix in (("x", "aaaaaaaa"), ("y", "bbbbbbbb")):
        msg = w.write(iter([Row(k=1, v=tag)]))
        assert _publish(
            str(tmp_path), [msg],
            f"manifest-{0:020d}-{suffix}.json",
        )
    rd = _TxnStreamReader(str(tmp_path), StructType.fromDDL(_SCHEMA))
    with pytest.raises(ValueError, match="share a sequence"):
        rd.partitions({"last": ""}, {"last": "manifest-zzz"})


def test_zorder_recluster_prunes_every_dimension(spark, tmp_path):
    """recluster_zorder rewrites the table along the Morton curve of
    two INDEPENDENT keys: zone maps become tight on both dimensions at
    once (each dimension individually skips files — a single-column
    range layout leaves the second dimension spanning everything), the
    column LIST is recorded so a column-less recluster() preserves the
    z-order, and a multi-column merge prunes on BOTH dimensions."""
    from mapreduceframework_cpp_spark.sources.pysink import (
        merge_into,
        recluster,
        recluster_zorder,
        table_cluster_by,
    )

    register(spark)
    schema = "k bigint, j bigint, v string"
    df = spark.range(4096).selectExpr(
        "id AS k",
        "pmod(id * 2654435761, 4096) AS j",  # decorrelated second key
        "concat('r', id) AS v",
    )
    df.repartition(16).write.format("txn_parquet").mode("append").save(
        str(tmp_path)
    )

    # hostile layout: neither dimension prunes
    def hits(col, lo, hi):
        return [
            e for e in committed_entries(str(tmp_path))
            if e["stats"][col][0] <= hi and lo <= e["stats"][col][1]
        ]

    assert len(hits("k", 0, 255)) == 16
    assert len(hits("j", 0, 255)) == 16

    recluster_zorder(spark, str(tmp_path), schema, ["k", "j"], target_files=16)
    assert table_cluster_by(str(tmp_path)) == ["k", "j"]
    assert len(committed_entries(str(tmp_path))) == 16
    k_hits = len(hits("k", 0, 255))
    j_hits = len(hits("j", 0, 255))
    assert k_hits <= 8  # both dimensions now skip files
    assert j_hits <= 8
    back = read_committed(spark, str(tmp_path), schema)
    assert back.count() == 4096  # maintenance moves bytes only
    assert back.where("v = 'r17'").count() == 1

    # a column-less recluster preserves the recorded z-order layout
    recluster(spark, str(tmp_path), schema, target_files=8)
    assert table_cluster_by(str(tmp_path)) == ["k", "j"]
    assert len(hits("k", 0, 255)) <= 5
    assert len(hits("j", 0, 255)) <= 5
    assert read_committed(spark, str(tmp_path), schema).count() == 4096

    # multi-column MERGE prunes on every join dimension: a source
    # confined to a (k, j) box touches few of the 8 files
    src_rows = (
        spark.range(4096)
        .selectExpr("id AS k", "pmod(id * 2654435761, 4096) AS j")
        .where("k BETWEEN 0 AND 63 AND j BETWEEN 0 AND 255")
        .selectExpr("k", "j", "'upd' AS v")
    )
    n_src = src_rows.count()
    assert n_src > 0
    stats = merge_into(spark, str(tmp_path), schema, src_rows, ["k", "j"])
    assert stats["files_total"] == 8
    assert stats["files_touched"] <= 4
    back = read_committed(spark, str(tmp_path), schema)
    assert back.count() == 4096
    assert back.where("v = 'upd'").count() == n_src


def test_pushdown_prunes_string_prefix_and_null_safe_eq(spark, tmp_path):
    """Round-12 filter coverage: StringStartsWith prunes from string
    zone maps via the same truncate-and-increment upper bound the
    writer uses, and EqualNullSafe to a non-null literal prunes like
    EqualTo (a NULL literal cannot prune — zone maps skip nulls)."""
    from pyspark.sql.datasource import EqualNullSafe, StringStartsWith

    from mapreduceframework_cpp_spark.sources.pysink import (
        TxnParquetDataSource,
    )

    register(spark)
    df = spark.range(1000).selectExpr(
        "id AS k",
        "concat(chr(97 + CAST(id / 125 AS INT)), '_', id) AS s",  # a_0..h_999
    )
    df.repartitionByRange(8, "s").write.format("txn_parquet").mode(
        "append"
    ).save(str(tmp_path))
    src = TxnParquetDataSource(
        options={"path": str(tmp_path), "pushdown": "true"}
    )
    rd = src.reader(src.schema())
    rd.pushFilters([StringStartsWith(("s",), "c_")])
    assert len(rd.partitions()) <= 2  # one prefix bucket (plus an edge)

    rd2 = src.reader(src.schema())
    rd2.pushFilters([EqualNullSafe(("s",), "e_600")])
    assert len(rd2.partitions()) == 1

    # a NULL-safe NULL match keeps everything (cannot prune soundly)
    rd3 = src.reader(src.schema())
    rd3.pushFilters([EqualNullSafe(("s",), None)])
    assert len(rd3.partitions()) == 8

    # correctness end-to-end under the session conf
    old = spark.conf.get("spark.sql.python.filterPushdown.enabled", None)
    try:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
        got = (
            spark.read.format("txn_parquet")
            .option("pushdown", "true")
            .load(str(tmp_path))
            .where("s LIKE 'c\\_%' ESCAPE '\\\\'")
            .count()
        )
        assert got == 125
    finally:
        if old is None:
            spark.conf.unset("spark.sql.python.filterPushdown.enabled")
        else:
            spark.conf.set("spark.sql.python.filterPushdown.enabled", old)


def test_deletion_vectors_merge_on_read(spark, tmp_path):
    """Round-12 deletion vectors (Delta DV / Iceberg position-delete
    shape): delete_where commits a (file, row-position) sidecar instead
    of rewriting files — base parts stay byte-identical, readers
    anti-join the positions away (helper, pruned-range, format API, and
    time travel all agree), re-running the delete is a no-op, a merge
    over a masked file does not resurrect deleted rows, and a compact
    bakes the deletes in and retires the DV with its generation."""
    from mapreduceframework_cpp_spark.sources.pysink import (
        committed_dvs,
        compact,
        delete_where,
        merge_into,
    )

    register(spark)
    _rows(spark, 1000).repartitionByRange(10, "k").write.format(
        "txn_parquet"
    ).mode("append").save(str(tmp_path))
    parts_before = sorted(committed_files(str(tmp_path)))

    stats = delete_where(
        spark, str(tmp_path), _SCHEMA, "k % 10 = 3 AND k < 300"
    )
    assert stats == {"files_masked": 3, "rows_deleted": 30}
    # merge-on-read: no data file was rewritten
    assert sorted(committed_files(str(tmp_path))) == parts_before
    back = read_committed(spark, str(tmp_path), _SCHEMA)
    assert back.count() == 970
    assert back.where("k % 10 = 3 AND k < 300").count() == 0
    # idempotent: already-deleted rows do not match again
    assert delete_where(
        spark, str(tmp_path), _SCHEMA, "k % 10 = 3 AND k < 300"
    ) == {"files_masked": 0, "rows_deleted": 0}
    # a second delete layers on (both DVs apply)
    assert delete_where(
        spark, str(tmp_path), _SCHEMA, "k BETWEEN 500 AND 509"
    ) == {"files_masked": 1, "rows_deleted": 10}
    assert read_committed(spark, str(tmp_path), _SCHEMA).count() == 960

    # time travel predates the deletes
    assert read_snapshot(spark, str(tmp_path), _SCHEMA, as_of=1).count() == 1000
    # the format API and the pruned-range helper apply DVs too
    assert spark.read.format("txn_parquet").load(str(tmp_path)).count() == 960
    got = read_committed_between(spark, str(tmp_path), _SCHEMA, "k", 500, 520)
    assert sorted(r.k for r in got.collect()) == list(range(510, 521))

    # a merge over a masked file must not resurrect deleted rows, and
    # its rewrite retires that file's DV rows (fresh part names)
    upd = spark.range(200, 210).selectExpr("id AS k", "'upd' AS v")
    merge_into(spark, str(tmp_path), _SCHEMA, upd, "k")
    back = read_committed(spark, str(tmp_path), _SCHEMA)
    assert back.count() == 961  # k=203 was deleted; merge re-inserts it
    assert [r.v for r in back.where("k = 203").collect()] == ["upd"]
    assert back.where("v = 'r203'").count() == 0

    # compaction reads the masked table: deletes bake in, DVs retire
    compact(spark, str(tmp_path), _SCHEMA)
    assert committed_dvs(str(tmp_path)) == []
    assert read_committed(spark, str(tmp_path), _SCHEMA).count() == 961
    assert vacuum(str(tmp_path), min_age_s=0) > 0
    dv_root = tmp_path / "_dv"
    assert not dv_root.is_dir() or os.listdir(dv_root) == []

    # the JSONL form has no row addressing and must refuse
    jl = tmp_path / "jsonl"
    _rows(spark, 10).coalesce(1).write.format("txn_files").mode(
        "append"
    ).save(str(jl))
    with pytest.raises(ValueError, match="row addressing"):
        delete_where(spark, str(jl), _SCHEMA, "k = 1")


def test_deletion_vector_occ_and_stream_guard(spark, tmp_path):
    """A DV commit planned against a snapshot whose target file a
    concurrent merge rewrote must raise ConcurrentCommitError (the
    replacement file still holds the matched rows — publishing would
    silently lose the delete), deleting its sidecar; and a DV commit
    inside a streamed window raises without skipChangeCommits, is
    skipped with it."""
    from mapreduceframework_cpp_spark.sources.pysink import (
        ConcurrentCommitError,
        _claim_slot_commit,
        delete_where,
        merge_into,
    )

    src = tmp_path / "table"
    register(spark)
    _rows(spark, 1000).repartitionByRange(10, "k").write.format(
        "txn_parquet"
    ).mode("append").save(str(src))

    # the stale delete plans NOW: it would mask the file holding k=250
    victim = next(
        os.path.basename(e["name"])
        for e in committed_entries(str(src))
        if e["stats"]["k"][0] <= 250 <= e["stats"]["k"][1]
    )
    dv_dir = src / "_dv" / "dv-stale"
    dv_dir.mkdir(parents=True)
    marker = dv_dir / "positions.parquet"
    marker.write_text("placeholder")  # cleanup target, content unread
    doc = {
        "files": [], "rows": 0, "entries": [],
        "dv": os.path.join("_dv", "dv-stale"),
        "dv_targets": [victim], "dv_rows": 1,
    }

    # a merge rewrites the victim file before the delete commits
    upd = spark.range(250, 260).selectExpr("id AS k", "'m' AS v")
    merge_into(spark, str(src), _SCHEMA, upd, "k")

    import shutil as _shutil

    with pytest.raises(ConcurrentCommitError, match="deletion-vector"):
        _claim_slot_commit(
            str(src), doc, dv_targets=[victim],
            cleanup=lambda: _shutil.rmtree(dv_dir, ignore_errors=True),
        )
    assert not dv_dir.exists()  # the loser's sidecar was cleaned up
    back = read_committed(spark, str(src), _SCHEMA)
    assert back.count() == 1000
    assert back.where("v = 'm'").count() == 10  # winner intact

    # streaming across a DV commit: raise by default, skip on opt-in
    out = tmp_path / "out"
    chk = tmp_path / "chk"

    def run_once(skip: bool):
        rs = spark.readStream.format("txn_parquet")
        if skip:
            rs = rs.option("skipChangeCommits", "true")
        q = (
            rs.load(str(src))
            .writeStream.foreachBatch(
                lambda df, bid: df.write.mode("append").parquet(str(out))
            )
            .option("checkpointLocation", str(chk))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # initial consume skips the merge's delta commit already in the log
    run_once(skip=True)
    n0 = spark.read.parquet(str(out)).count()
    delete_where(spark, str(src), _SCHEMA, "k BETWEEN 700 AND 709")
    _rows(spark, 5, "z").coalesce(1).write.format("txn_parquet").mode(
        "append"
    ).save(str(src))
    with pytest.raises(Exception, match="deletion-vector"):
        run_once(skip=False)
    run_once(skip=True)
    got = spark.read.parquet(str(out))
    assert got.count() == n0 + 5  # only the append; no re-emits
    assert got.where(F.col("v").startswith("z")).count() == 5


def test_null_count_stats_prune_isnull_filters(spark, tmp_path):
    """Round-12 null-count zone maps (Iceberg null_value_counts): the
    writers record per-column null counts, so a pushed IsNull prunes
    files with ZERO nulls and IsNotNull prunes ALL-null files — classes
    min/max ranges cannot express. Counts are advisory like every other
    stat: filters stay residual, missing counts keep the file."""
    from pyspark.sql.datasource import IsNotNull, IsNull

    from mapreduceframework_cpp_spark.sources.pysink import (
        TxnParquetDataSource,
    )

    register(spark)
    schema = "k bigint, v string"
    # three one-file commits: no-null / all-null / mixed v
    spark.range(0, 100).selectExpr("id AS k", "concat('a', id) AS v") \
        .coalesce(1).write.format("txn_parquet").mode("append") \
        .save(str(tmp_path))
    spark.range(100, 200).selectExpr("id AS k", "CAST(NULL AS STRING) AS v") \
        .coalesce(1).write.format("txn_parquet").mode("append") \
        .save(str(tmp_path))
    spark.range(200, 300).selectExpr(
        "id AS k", "IF(id % 2 = 0, concat('m', id), NULL) AS v"
    ).coalesce(1).write.format("txn_parquet").mode("append").save(str(tmp_path))

    entries = committed_entries(str(tmp_path))
    assert [e["nulls"]["v"] for e in entries] == [0, 100, 50]
    assert all(e["nulls"]["k"] == 0 for e in entries)

    src = TxnParquetDataSource(
        options={"path": str(tmp_path), "pushdown": "true"}
    )
    rd = src.reader(src.schema())
    rd.pushFilters([IsNull(("v",))])
    assert len(rd.partitions()) == 2  # the no-null file is skipped

    rd2 = src.reader(src.schema())
    rd2.pushFilters([IsNotNull(("v",))])
    assert len(rd2.partitions()) == 2  # the all-null file is skipped

    # end-to-end correctness under the session conf
    old = spark.conf.get("spark.sql.python.filterPushdown.enabled", None)
    try:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
        df = (
            spark.read.format("txn_parquet")
            .option("pushdown", "true")
            .load(str(tmp_path))
        )
        assert df.where("v IS NULL").count() == 150
        assert df.where("v IS NOT NULL").count() == 150
    finally:
        if old is None:
            spark.conf.unset("spark.sql.python.filterPushdown.enabled")
        else:
            spark.conf.set("spark.sql.python.filterPushdown.enabled", old)

    # the JSONL row path records the same counts
    jl = tmp_path / "jsonl"
    spark.range(0, 10).selectExpr(
        "id AS k", "IF(id < 3, NULL, 'x') AS v"
    ).coalesce(1).write.format("txn_files").mode("append").save(str(jl))
    (e,) = committed_entries(str(jl))
    assert e["nulls"] == {"k": 0, "v": 3}


def test_format_api_change_feed_and_history(spark, tmp_path):
    """Round-12 API symmetry: the (from, to] change feed is readable
    through the format API (option("changesFrom"/"changesTo") — same
    window contract and refusals as read_changes), and table_history()
    serves DESCRIBE HISTORY off the manifest log (commit kind, counts,
    clustering, visibility) without touching data files."""
    from mapreduceframework_cpp_spark.sources.pysink import (
        delete_where,
        table_history,
        write_clustered,
    )

    register(spark)
    for tag, lo in (("a", 0), ("b", 100), ("c", 200)):
        spark.range(lo, lo + 50).selectExpr(
            "id AS k", f"concat('{tag}', id) AS v"
        ).coalesce(1).write.format("txn_parquet").mode("append").save(
            str(tmp_path)
        )

    feed = (
        spark.read.format("txn_parquet")
        .option("changesFrom", 1)
        .option("changesTo", 3)
        .load(str(tmp_path))
    )
    got = sorted(r.v for r in feed.collect())
    assert len(got) == 100
    assert got[0].startswith("b") and got[-1].startswith("c")

    # an empty window plans no files and returns no rows
    assert (
        spark.read.format("txn_parquet")
        .option("changesFrom", 3)
        .option("changesTo", 3)
        .load(str(tmp_path))
        .count()
        == 0
    )

    # asOf and a change window are mutually exclusive
    with pytest.raises(Exception, match="mutually"):
        spark.read.format("txn_parquet").option("asOf", 1).option(
            "changesFrom", 0
        ).option("changesTo", 1).load(str(tmp_path)).count()

    # a DV commit inside the window refuses (rows retracted)
    delete_where(spark, str(tmp_path), _SCHEMA, "k BETWEEN 10 AND 19")
    with pytest.raises(Exception, match="deletion-vector"):
        spark.read.format("txn_parquet").option("changesFrom", 2).option(
            "changesTo", 4
        ).load(str(tmp_path)).count()

    hist = table_history(spark, str(tmp_path)).collect()
    assert [r.kind for r in hist] == ["append", "append", "append", "dv-delete"]
    assert [r.seq for r in hist] == [0, 1, 2, 3]
    assert all(r.visible for r in hist)
    assert [r.n_rows for r in hist] == [50, 50, 50, 0]
    assert hist[3].dv_rows == 10

    # a clustered overwrite starts a new generation: history keeps the
    # retained rows but marks the superseded ones invisible
    write_clustered(
        _rows(spark, 40), str(tmp_path), "k", target_files=2,
        fmt="txn_parquet", mode="overwrite",
    )
    hist = table_history(spark, str(tmp_path)).collect()
    assert [r.visible for r in hist] == [False] * 4 + [True]
    assert hist[4].kind == "replace"
    assert hist[4].cluster_by == "k"


def test_checkpoint_bounds_planning_loads(spark, tmp_path):
    """VERDICT r12 item 2: a long manifest log must plan from
    checkpoint + tail, not by json-loading every manifest since the
    last replaces. Build a 30+-commit log, checkpoint it, and pin the
    DRIVER-side json-load count of a full read plan to O(tail), while
    the result stays byte-identical to the raw full fold (a checkpoint
    is derived state — deleting it may not change any answer)."""
    import glob as _glob

    from mapreduceframework_cpp_spark.sources import pysink
    from mapreduceframework_cpp_spark.sources.pysink import (
        _claim_manifest,
        checkpoint,
    )

    register(spark)
    _rows(spark, 10, "a").coalesce(1).write.format("txn_files").mode(
        "append"
    ).save(str(tmp_path))
    _rows(spark, 10, "b").coalesce(1).write.format("txn_files").mode(
        "append"
    ).save(str(tmp_path))
    # simulate a month of tiny commits (e.g. a 10 s streaming cadence
    # compacted into this test): empty-delta manifests are legal and
    # cheap; what matters is the LOG LENGTH, not the data volume
    txn = tmp_path / "_txn"
    for seq in range(2, 32):
        assert _claim_manifest(
            str(txn),
            f"manifest-{seq:020d}-c.json",
            {"files": [], "rows": 0, "entries": []},
        )
    name = checkpoint(str(tmp_path))
    assert name and (txn / name).exists()
    # three commits land after the checkpoint — the tail
    for seq in range(32, 35):
        assert _claim_manifest(
            str(txn),
            f"manifest-{seq:020d}-c.json",
            {"files": [], "rows": 0, "entries": []},
        )

    pysink.MANIFEST_LOADS = 0
    rows = _read_back(spark, tmp_path)
    loads = pysink.MANIFEST_LOADS
    assert len(rows) == 20
    # read plan = committed_files + committed_dvs, each one fold_state:
    # (1 ckpt + 3 tail) x 2 — pin with slack but far under the 35-load
    # full walk
    assert loads <= 12, f"planning json-loaded {loads} docs; ckpt unused?"

    # derived-state property: remove the checkpoint -> same answer
    for c in _glob.glob(str(txn / "ckpt-*.json")):
        os.remove(c)
    pysink.MANIFEST_LOADS = 0
    assert _read_back(spark, tmp_path) == rows
    assert pysink.MANIFEST_LOADS >= 35  # the raw walk it replaced


def test_auto_checkpoint_and_generation_cut(spark, tmp_path):
    """Writers auto-checkpoint every option("checkpointInterval")
    commits; a later overwrite (replaces) makes the old-generation
    checkpoint inert — the fold restarts at the generation marker, so
    reads serve ONLY post-overwrite data even with a stale checkpoint
    on disk."""
    import glob as _glob

    from mapreduceframework_cpp_spark.sources.pysink import checkpoint

    register(spark)
    for tag in ("a", "b", "c"):
        _rows(spark, 5, tag).coalesce(1).write.format("txn_files").mode(
            "append"
        ).option("checkpointInterval", 2).save(str(tmp_path))
    cks = _glob.glob(str(tmp_path / "_txn" / "ckpt-*.json"))
    assert cks, "writer did not auto-checkpoint at the interval"
    assert len(_read_back(spark, tmp_path)) == 15

    # stale checkpoint vs generation cut: overwrite, then append
    _rows(spark, 4, "z").coalesce(1).write.format("txn_files").mode(
        "overwrite"
    ).save(str(tmp_path))
    _rows(spark, 3, "y").coalesce(1).write.format("txn_files").mode(
        "append"
    ).save(str(tmp_path))
    got = _read_back(spark, tmp_path)
    assert len(got) == 7
    assert {v[:1] for _, v in got} == {"z", "y"}

    # a post-overwrite checkpoint folds the NEW generation only
    checkpoint(str(tmp_path))
    assert _read_back(spark, tmp_path) == got


def test_checkpoint_carries_schema_clustering_and_dvs(spark, tmp_path):
    """The checkpoint must preserve every planning input: evolved
    (merged) schema, declared clustering, and visible deletion
    vectors — a read served from checkpoint + empty tail returns
    exactly what the raw log fold returned."""
    import glob as _glob

    from mapreduceframework_cpp_spark.sources.pysink import (
        checkpoint,
        delete_where,
        table_cluster_by,
        write_clustered,
    )

    register(spark)
    write_clustered(
        spark.range(100).selectExpr("id AS k", "concat('a', id) AS v"),
        str(tmp_path), "k", target_files=2, fmt="txn_parquet",
    )
    # schema evolution: a later commit adds a column
    spark.range(100, 120).selectExpr(
        "id AS k", "concat('b', id) AS v", "id * 2 AS extra"
    ).coalesce(1).write.format("txn_parquet").mode("append").save(
        str(tmp_path)
    )
    delete_where(
        spark, str(tmp_path), "k bigint, v string, extra bigint",
        "k BETWEEN 0 AND 9",
    )

    df_raw = spark.read.format("txn_parquet").load(str(tmp_path))
    raw = sorted(map(tuple, df_raw.collect()))
    assert len(raw) == 110  # 120 minus the 10 DV-masked rows
    assert df_raw.schema.fieldNames() == ["k", "v", "extra"]

    assert checkpoint(str(tmp_path))
    df_ck = spark.read.format("txn_parquet").load(str(tmp_path))
    assert df_ck.schema.fieldNames() == ["k", "v", "extra"]
    assert sorted(map(tuple, df_ck.collect())) == raw
    assert table_cluster_by(str(tmp_path)) == "k"

    # and the checkpoint stays inert for as_of time travel (audit path
    # folds the raw log): snapshot 2 predates the delete
    from mapreduceframework_cpp_spark.sources.pysink import read_snapshot

    assert (
        read_snapshot(
            spark, str(tmp_path),
            "k bigint, v string, extra bigint", as_of=2,
        ).count()
        == 120
    )

    # derived state: drop the checkpoint, answers unchanged
    for c in _glob.glob(str(tmp_path / "_txn" / "ckpt-*.json")):
        os.remove(c)
    assert sorted(
        map(tuple, spark.read.format("txn_parquet").load(str(tmp_path)).collect())
    ) == raw


def test_stream_writer_auto_checkpoints(tmp_path):
    """The streaming commit path auto-checkpoints too — a 10 s-cadence
    sink is exactly the log this feature exists for."""
    import glob as _glob

    w = TxnFilesStreamWriter(str(tmp_path), ckpt_every=2)
    os.makedirs(tmp_path / "_txn", exist_ok=True)
    for b in range(5):
        w.commit([], batchId=b)
    cks = _glob.glob(str(tmp_path / "_txn" / "ckpt-*.json"))
    assert cks, "stream writer did not auto-checkpoint"
    doc = json.load(open(sorted(cks)[-1]))
    assert doc["styles"] == ["stream"]
    assert doc["n"] >= 2


def _cdf_log(spark, path):
    """Shared CDF fixture log: two single-file appends, a DV delete,
    and a file-pruned merge (update+insert) — every change-commit kind
    the feed must serve."""
    from mapreduceframework_cpp_spark.sources.pysink import (
        delete_where,
        merge_into,
    )

    df = spark.range(0, 20).select(
        F.col("id").alias("k"), (F.col("id") * 10).cast("double").alias("v")
    )
    df.where("k < 10").coalesce(1).write.format("txn_parquet").mode(
        "append"
    ).save(path)
    df.where("k >= 10").coalesce(1).write.format("txn_parquet").mode(
        "append"
    ).save(path)
    schema = "k bigint, v double"
    delete_where(spark, path, schema, "k = 3 OR k = 12")
    src = spark.range(15, 18).select(
        F.col("id").alias("k"),
        (F.col("id") * 10 + 1000).cast("double").alias("v"),
    )
    merge_into(spark, path, schema, src, "k")
    return schema


def test_change_feed_batch_row_level_semantics(spark, tmp_path):
    """Round-13 CDF (VERDICT r12 item 3): option("readChangeFeed")
    turns the (from, to] window into row-level changes — appends as
    inserts, a DV commit's newly masked positions as deletes, a merge
    as its removed file's then-live rows (deletes) + rewritten file
    (inserts). The already-DV-deleted row must NOT re-delete at the
    merge (prior DVs excluded), and updates surface as delete+insert
    pairs with the updated value on the insert side."""
    register(spark)
    _cdf_log(spark, str(tmp_path))
    feed = (
        spark.read.format("txn_parquet")
        .option("changesFrom", 0)
        .option("changesTo", 4)
        .option("readChangeFeed", "true")
        .load(str(tmp_path))
    )
    rows = {(r.k, r.v, r._change_type, r._commit_version) for r in feed.collect()}
    # inserts at versions 0/1 cover all 20 rows
    assert {(k, k * 10.0, "insert", k // 10) for k in range(20)} <= rows
    # DV deletes at version 2
    assert (3, 30.0, "delete", 2) in rows and (12, 120.0, "delete", 2) in rows
    # merge at version 3: live F2 rows deleted (12 already gone), pairs
    merge_dels = {r for r in rows if r[2] == "delete" and r[3] == 3}
    assert merge_dels == {
        (k, k * 10.0, "delete", 3) for k in range(10, 20) if k != 12
    }
    merge_ins = {r for r in rows if r[2] == "insert" and r[3] == 3}
    assert merge_ins == {
        (k, (k * 10.0 + 1000) if k in (15, 16, 17) else k * 10.0, "insert", 3)
        for k in range(10, 20)
        if k != 12
    }
    # F1's file (version 0) is untouched by the merge: no deletes at 3
    assert not any(r[0] < 10 and r[3] == 3 for r in rows)
    # batch CDF requires an explicit window
    with pytest.raises(Exception, match="changesFrom"):
        spark.read.format("txn_parquet").option(
            "readChangeFeed", "true"
        ).load(str(tmp_path)).count()


def test_change_feed_stream_matches_batch(spark, tmp_path):
    """The streaming source under readChangeFeed delivers EXACTLY the
    batch window's change rows across append + delete_where + merge —
    and without the option the strict refusals are unchanged."""
    register(spark)
    _cdf_log(spark, str(tmp_path))
    got = []
    q = (
        spark.readStream.format("txn_parquet")
        .option("readChangeFeed", "true")
        .load(str(tmp_path))
        .writeStream.foreachBatch(lambda b, i: got.append(b.collect()))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    stream_rows = sorted(tuple(r) for b in got for r in b)
    batch_rows = sorted(
        tuple(r)
        for r in (
            spark.read.format("txn_parquet")
            .option("changesFrom", 0)
            .option("changesTo", 4)
            .option("readChangeFeed", "true")
            .load(str(tmp_path))
            .collect()
        )
    )
    assert stream_rows == batch_rows
    assert len(stream_rows) == 40

    # refusal semantics unchanged without the option: the plain stream
    # still refuses the DV commit in its window
    q2 = (
        spark.readStream.format("txn_parquet")
        .load(str(tmp_path))
        .writeStream.format("noop")
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="deletion-vector"):
        q2.awaitTermination(120)

    # readChangeFeed + skipChangeCommits conflict at stream start
    q3 = (
        spark.readStream.format("txn_parquet")
        .option("readChangeFeed", "true")
        .option("skipChangeCommits", "true")
        .load(str(tmp_path))
        .writeStream.format("noop")
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="conflict"):
        q3.awaitTermination(120)


def test_change_feed_stream_refuses_replaces_and_recovers_offsets(
    spark, tmp_path
):
    """A replaces commit (compact) mid-stream still refuses under CDF
    (history truncation has no row-delta form), and a CDF stream
    restarted from its checkpoint re-serves only the unseen tail."""
    from mapreduceframework_cpp_spark.sources.pysink import compact

    register(spark)
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    tgt = tmp_path / "table"
    os.makedirs(out)
    schema = _cdf_log(spark, str(tgt))

    def run():
        q = (
            spark.readStream.format("txn_parquet")
            .option("readChangeFeed", "true")
            .load(str(tgt))
            .writeStream.foreachBatch(
                lambda b, i: b.write.mode("append").parquet(str(out))
            )
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    n1 = spark.read.parquet(str(out)).count()
    assert n1 == 40
    # one more DV delete lands; the restarted stream serves ONLY it
    from mapreduceframework_cpp_spark.sources.pysink import delete_where

    delete_where(spark, str(tgt), schema, "k = 5")
    run()
    df = spark.read.parquet(str(out))
    assert df.count() == 41
    tail = df.where("_commit_version = 4").collect()
    assert [(r.k, r._change_type) for r in tail] == [(5, "delete")]

    # compaction mid-stream refuses under CDF
    compact(spark, str(tgt), schema)
    q = (
        spark.readStream.format("txn_parquet")
        .option("readChangeFeed", "true")
        .load(str(tgt))
        .writeStream.foreachBatch(lambda b, i: None)
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="replaces"):
        q.awaitTermination(120)


def test_dv_coalesce_and_purge(spark, tmp_path):
    """Round-13 DV maintenance (VERDICT r12 item 4): coalesce_dvs
    folds N sidecars into one (dropping inert positions), and
    purge_deletes rewrites ONLY the over-threshold files — under-
    threshold part names survive verbatim and the visible rows are
    identical through every maintenance step."""
    from mapreduceframework_cpp_spark.sources.pysink import (
        coalesce_dvs,
        committed_dvs,
        delete_where,
        purge_deletes,
        table_history,
    )

    register(spark)
    t = str(tmp_path)
    spark.range(100).selectExpr(
        "id AS k", "CAST(id * 10 AS DOUBLE) AS v"
    ).repartitionByRange(4, "k").write.format("txn_parquet").mode(
        "append"
    ).save(t)
    schema = "k bigint, v double"
    for cond in ("k IN (1,2,3)", "k BETWEEN 30 AND 37", "k = 60"):
        delete_where(spark, t, schema, cond)
    assert len(committed_dvs(t)) == 3  # one sidecar per delete
    before = sorted(
        map(tuple, read_committed(spark, t, schema).collect())
    )
    assert len(before) == 88

    got = coalesce_dvs(spark, t)
    assert got == {"coalesced": 3, "dv_rows": 12, "dropped_inert": 0}
    assert len(committed_dvs(t)) == 1
    assert before == sorted(
        map(tuple, read_committed(spark, t, schema).collect())
    )

    # purge: only the file holding k∈[25,50) exceeds 20% masked (8/25)
    names0 = {os.path.basename(e["name"]) for e in committed_entries(t)}
    got = purge_deletes(spark, t, schema, threshold=0.2)
    assert got["files_rewritten"] == 1 and got["rows_purged"] == 8
    names1 = {os.path.basename(e["name"]) for e in committed_entries(t)}
    assert len(names0 & names1) == 3  # under-threshold files verbatim
    assert before == sorted(
        map(tuple, read_committed(spark, t, schema).collect())
    )

    # a second coalesce drops the purged (now inert) positions
    got = coalesce_dvs(spark, t)
    assert got == {"coalesced": 1, "dv_rows": 4, "dropped_inert": 8}
    # and once the lone sidecar is fully live, coalescing is a no-op
    assert coalesce_dvs(spark, t)["coalesced"] == 0
    assert before == sorted(
        map(tuple, read_committed(spark, t, schema).collect())
    )
    hist = [r.kind for r in table_history(spark, t).collect()]
    assert hist.count("dv-coalesce") == 2 and hist.count("delta") == 1


def test_dv_coalesce_occ_loses_to_interloper(spark, tmp_path):
    """A commit landing mid-coalesce (above all a concurrent
    delete_where whose positions the fold would silently drop) makes
    the coalesce lose with ConcurrentCommitError, its dataset cleaned
    up; same basis rule for purge_deletes."""
    from mapreduceframework_cpp_spark.sources.pysink import (
        ConcurrentCommitError,
        _claim_slot_commit,
        _latest_manifest,
        coalesce_dvs,
        delete_where,
        purge_deletes,
    )
    from unittest import mock

    register(spark)
    t = str(tmp_path)
    spark.range(50).selectExpr(
        "id AS k", "CAST(id AS DOUBLE) AS v"
    ).coalesce(2).write.format("txn_parquet").mode("append").save(t)
    schema = "k bigint, v double"
    delete_where(spark, t, schema, "k = 1")
    delete_where(spark, t, schema, "k = 2")

    real = _latest_manifest(t)

    # simulate a commit landing mid-plan: the FIRST head read (the
    # basis coalesce_dvs pins) sees a stale log, the validation's
    # re-read sees the real head — exactly the advanced-log shape
    calls = {"n": 0}

    def _racing(path):
        calls["n"] += 1
        if calls["n"] == 1:
            return "manifest-00000000000000000000-c.json"
        return real

    with mock.patch(
        "mapreduceframework_cpp_spark.sources.pysink._latest_manifest",
        side_effect=_racing,
    ):
        with pytest.raises(ConcurrentCommitError, match="advanced"):
            coalesce_dvs(spark, t)
    # the loser cleaned up: no orphan dataset beyond the two sidecars
    assert len(os.listdir(tmp_path / "_dv")) == 2
    # and the table still reads correctly afterwards
    assert read_committed(spark, t, schema).count() == 48
    assert _latest_manifest(t) == real


def test_dv_coalesce_is_metadata_only_in_change_feed(spark, tmp_path):
    """The change feed serves a dv-coalesce commit as NO row-level
    changes (every masked row was already emitted by its own delete
    commit), and post-coalesce windows keep masking correctly through
    the consolidated sidecar."""
    from mapreduceframework_cpp_spark.sources.pysink import (
        coalesce_dvs,
        delete_where,
        merge_into,
    )

    register(spark)
    t = str(tmp_path)
    df = spark.range(20).selectExpr("id AS k", "CAST(id * 10 AS DOUBLE) AS v")
    df.where("k < 10").coalesce(1).write.format("txn_parquet").mode(
        "append"
    ).save(t)
    df.where("k >= 10").coalesce(1).write.format("txn_parquet").mode(
        "append"
    ).save(t)
    schema = "k bigint, v double"
    delete_where(spark, t, schema, "k = 3")
    delete_where(spark, t, schema, "k = 12")
    coalesce_dvs(spark, t)  # version 4, metadata-only
    src = spark.range(15, 16).selectExpr(
        "id AS k", "CAST(id + 9000 AS DOUBLE) AS v"
    )
    merge_into(spark, t, schema, src, "k")  # version 5

    feed = (
        spark.read.format("txn_parquet")
        .option("changesFrom", 0)
        .option("changesTo", 6)
        .option("readChangeFeed", "true")
        .load(t)
    )
    rows = {(r.k, r._change_type, r._commit_version) for r in feed.collect()}
    assert not any(v == 4 for _, _, v in rows)  # coalesce emits nothing
    # the merge's deletes exclude BOTH pre-coalesce masked rows via the
    # consolidated sidecar (k=12 was deleted at version 3, not again)
    assert (12, "delete", 5) not in rows
    merge_dels = {k for k, ct, v in rows if ct == "delete" and v == 5}
    assert merge_dels == {k for k in range(10, 20) if k != 12}


def test_column_mapping_rename_and_drop(spark, tmp_path):
    """Round-13 column mapping (VERDICT r12 item 6 — Iceberg/Delta
    column-mapping shape): rename mid-log reads correctly across the
    boundary with zero data rewritten (old files serve the column
    under its new logical name via the frozen physical name); drop is
    metadata-only; post-rename appends stage under PHYSICAL names so
    the physical layer never moves."""
    from mapreduceframework_cpp_spark.sources.pysink import (
        drop_column,
        rename_column,
    )

    register(spark)
    t = str(tmp_path)
    spark.range(25).selectExpr(
        "id AS k", "CAST(id * 10 AS DOUBLE) AS v", "concat('j', id) AS junk"
    ).coalesce(1).write.format("txn_parquet").mode("append").save(t)
    rename_column(t, "v", "price")
    drop_column(t, "junk")
    spark.range(25, 50).selectExpr(
        "id AS k", "CAST(id * 10 AS DOUBLE) AS price"
    ).coalesce(1).write.format("txn_parquet").mode("append").save(t)

    back = spark.read.format("txn_parquet").load(t)
    assert back.schema.simpleString() == "struct<k:bigint,price:double>"
    assert sorted((r.k, r.price) for r in back.collect()) == [
        (k, k * 10.0) for k in range(50)
    ]
    # the post-rename file physically holds the FROZEN name 'v'
    import pyarrow.parquet as pq

    phys_cols = {
        c
        for e in committed_entries(t)
        for c in pq.ParquetFile(e["name"]).schema_arrow.names
    }
    assert "v" in phys_cols and "price" not in phys_cols

    # helpers read logical too
    assert (
        read_committed(spark, t, "k bigint, price double").count() == 50
    )
    # rename errors
    with pytest.raises(ValueError, match="already exists"):
        rename_column(t, "k", "price")
    with pytest.raises(ValueError, match="no column"):
        rename_column(t, "v", "w")
    # tombstone: re-adding the dropped name is refused at write time
    with pytest.raises(Exception, match="resurrect"):
        spark.range(2).selectExpr(
            "id AS k", "CAST(id AS DOUBLE) AS price", "'x' AS junk"
        ).write.format("txn_parquet").mode("append").save(t)


def test_column_mapping_survives_maintenance_and_pushdown(spark, tmp_path):
    """Column mapping composes with the rest of the surface: DV
    deletes + merge on the renamed logical name, zone-map pushdown
    translating logical→physical stats, the change feed, and a
    checkpointed log; compact bakes the renames in and resets the
    mapping (fresh generation)."""
    from mapreduceframework_cpp_spark.sources.pysink import (
        MANIFEST_LOADS,
        checkpoint,
        compact,
        delete_where,
        merge_into,
        rename_column,
    )
    import mapreduceframework_cpp_spark.sources.pysink as psk

    register(spark)
    t = str(tmp_path)
    df = spark.range(100).selectExpr(
        "id AS k", "CAST(id * 10 AS DOUBLE) AS v"
    )
    df.repartitionByRange(4, "k").write.format("txn_parquet").mode(
        "append"
    ).save(t)
    rename_column(t, "v", "price")
    schema = "k bigint, price double"
    delete_where(spark, t, schema, "price >= 900")  # masks 10 rows
    src = spark.range(5, 8).selectExpr("id AS k", "7777.0 AS price")
    merge_into(spark, t, schema, src, "k")
    got = dict(
        (r.k, r.price)
        for r in read_committed(spark, t, schema).collect()
    )
    assert len(got) == 90 and got[5] == 7777.0 and got[50] == 500.0

    # pushdown prunes on the RENAMED column via physical stats
    prev = spark.conf.get("spark.sql.python.filterPushdown.enabled", None)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    try:
        back = (
            spark.read.format("txn_parquet")
            .option("pushdown", "true")
            .load(t)
            .where(F.col("price").between(300.0, 400.0))
        )
        rows = back.collect()
        assert sorted(r.k for r in rows) == list(range(30, 41))
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.python.filterPushdown.enabled")
        else:
            spark.conf.set("spark.sql.python.filterPushdown.enabled", prev)

    # change feed serves logical names across the whole log
    feed = (
        spark.read.format("txn_parquet")
        .option("changesFrom", 0)
        .option("changesTo", 4)
        .option("readChangeFeed", "true")
        .load(t)
    )
    assert "price" in feed.columns and "v" not in feed.columns
    by_kind = {}
    for r in feed.collect():
        by_kind.setdefault((r._change_type, r._commit_version), 0)
        by_kind[(r._change_type, r._commit_version)] += 1
    assert by_kind[("insert", 0)] == 100
    assert by_kind[("delete", 2)] == 10
    assert ("insert", 1) not in by_kind  # the rename is metadata-only

    # a checkpoint carries the mapped schema: plans stay correct and
    # bounded after it
    assert checkpoint(t)
    psk.MANIFEST_LOADS  # counter exists; correctness check below
    assert (
        read_committed(spark, t, schema).count() == 90
    )

    # compact bakes the rename into data and resets the mapping
    compact(spark, t, schema)
    import pyarrow.parquet as pq

    phys_cols = {
        c
        for e in committed_entries(t)
        for c in pq.ParquetFile(e["name"]).schema_arrow.names
    }
    assert "price" in phys_cols and "v" not in phys_cols
    assert read_committed(spark, t, schema).count() == 90


def test_column_mapping_stream_reads_logical(spark, tmp_path):
    """The streaming source serves the CURRENT logical names over a
    renamed table — files from both sides of the rename stream back
    under one schema."""
    from mapreduceframework_cpp_spark.sources.pysink import rename_column

    register(spark)
    t = str(tmp_path)
    spark.range(10).selectExpr(
        "id AS k", "CAST(id AS DOUBLE) AS v"
    ).coalesce(1).write.format("txn_parquet").mode("append").save(t)
    rename_column(t, "v", "price")
    spark.range(10, 20).selectExpr(
        "id AS k", "CAST(id AS DOUBLE) AS price"
    ).coalesce(1).write.format("txn_parquet").mode("append").save(t)

    got = []
    q = (
        spark.readStream.format("txn_parquet")
        .load(t)
        .writeStream.foreachBatch(lambda b, i: got.append(b.collect()))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = sorted((r.k, r.price) for b in got for r in b)
    assert rows == [(k, float(k)) for k in range(20)]


def test_read_committed_plans_from_one_snapshot(spark, tmp_path, monkeypatch):
    """A compact landing between two manifest folds of one read must not
    pair the old generation's files with the new generation's (empty)
    deletion-vector list: the read plans files, DVs and column map from
    a single fold, so it serves the old snapshot intact (90 rows, none
    of the deleted keys)."""
    from mapreduceframework_cpp_spark.sources import pysink
    from mapreduceframework_cpp_spark.sources.pysink import delete_where

    register(spark)
    t = str(tmp_path)
    schema = "k bigint, v double"
    spark.range(100).selectExpr(
        "id AS k", "CAST(id AS DOUBLE) AS v"
    ).repartitionByRange(4, "k").write.format("txn_parquet").mode(
        "append"
    ).save(t)
    assert delete_where(spark, t, schema, "k < 10")["rows_deleted"] == 10

    real = pysink._fold_state
    landed = []

    def fold_then_compact(path, *args, **kwargs):
        st = real(path, *args, **kwargs)
        if not landed:
            landed.append(True)  # the compact's own folds pass through
            compact(spark, t, schema)
        return st

    monkeypatch.setattr(pysink, "_fold_state", fold_then_compact)
    keys = [r.k for r in read_committed(spark, t, schema).collect()]
    monkeypatch.undo()
    assert landed
    assert sorted(keys) == list(range(10, 100))
    # the compact did land: the new generation serves the same rows
    assert read_committed(spark, t, schema).count() == 90


def test_read_plan_loads_each_manifest_once(spark, tmp_path):
    """Without a checkpoint, planning a read json-loads each of the K
    manifests exactly once — one fold per read, not one per field."""
    from mapreduceframework_cpp_spark.sources import pysink

    register(spark)
    t = str(tmp_path)
    k = 4
    for i in range(k):
        spark.range(i * 10, i * 10 + 10).selectExpr(
            "id AS k", "CAST(id AS DOUBLE) AS v"
        ).coalesce(1).write.format("txn_parquet").mode("append").save(t)
    assert len(pysink._manifests(t)) == k and not pysink._ckpt_files(t)
    schema = "k bigint, v double"

    pysink.MANIFEST_LOADS = 0
    df = read_committed(spark, t, schema)
    assert pysink.MANIFEST_LOADS == k
    assert df.count() == 10 * k

    pysink.MANIFEST_LOADS = 0
    df = read_committed_between(spark, t, schema, "k", 5, 14)
    assert pysink.MANIFEST_LOADS == k
    assert sorted(r.k for r in df.collect()) == list(range(5, 15))


def test_time_travel_across_rename_serves_current_names(spark, tmp_path):
    """A snapshot from before rename_column(v -> price) reads under the
    CURRENT logical name: the as-of fold picks the files and deletion
    vectors, the current fold picks the column map — through both the
    helper and option("asOf")."""
    from mapreduceframework_cpp_spark.sources.pysink import rename_column

    register(spark)
    t = str(tmp_path)
    spark.range(10).selectExpr(
        "id AS k", "CAST(id * 10 AS DOUBLE) AS v"
    ).coalesce(1).write.format("txn_parquet").mode("append").save(t)
    rename_column(t, "v", "price")
    spark.range(10, 20).selectExpr(
        "id AS k", "CAST(id * 10 AS DOUBLE) AS price"
    ).coalesce(1).write.format("txn_parquet").mode("append").save(t)

    want = [(k, k * 10.0) for k in range(10)]
    snap = read_snapshot(spark, t, "k bigint, price double", 1)
    assert sorted((r.k, r.price) for r in snap.collect()) == want
    fmt = spark.read.format("txn_parquet").option("asOf", 1).load(t)
    assert fmt.columns == ["k", "price"]
    assert sorted((r.k, r.price) for r in fmt.collect()) == want


def test_maintenance_basis_is_the_planning_fold(spark, tmp_path, monkeypatch):
    """coalesce_dvs and purge_deletes pin the head of the fold they
    planned from as their commit basis: a real delete_where landing
    right after that fold makes each lose with ConcurrentCommitError,
    its own output cleaned up, and the interloper's delete stands."""
    from mapreduceframework_cpp_spark.sources import pysink
    from mapreduceframework_cpp_spark.sources.pysink import (
        ConcurrentCommitError,
        coalesce_dvs,
        committed_dvs,
        delete_where,
        purge_deletes,
    )

    register(spark)
    t = str(tmp_path)
    schema = "k bigint, v double"
    spark.range(50).selectExpr(
        "id AS k", "CAST(id AS DOUBLE) AS v"
    ).coalesce(2).write.format("txn_parquet").mode("append").save(t)
    delete_where(spark, t, schema, "k = 1")
    delete_where(spark, t, schema, "k = 2")
    real = pysink._fold_state

    def land_after_first_fold(cond):
        landed = []

        def fold(path, *args, **kwargs):
            st = real(path, *args, **kwargs)
            if not landed:
                landed.append(True)  # the delete's own folds pass through
                delete_where(spark, t, schema, cond)
            return st

        monkeypatch.setattr(pysink, "_fold_state", fold)
        return landed

    landed = land_after_first_fold("k = 3")
    with pytest.raises(ConcurrentCommitError, match="advanced"):
        coalesce_dvs(spark, t)
    monkeypatch.undo()
    assert landed
    # the loser's dataset is gone: only the three delete sidecars remain
    assert sorted(os.listdir(tmp_path / "_dv")) == sorted(
        os.path.basename(d) for d in committed_dvs(t)
    )
    assert len(committed_dvs(t)) == 3
    assert read_committed(spark, t, schema).count() == 47

    parts = {f for f in os.listdir(t) if f.startswith("part-")}
    landed = land_after_first_fold("k = 4")
    with pytest.raises(Exception, match="advanced"):
        purge_deletes(spark, t, schema, threshold=0.05)
    monkeypatch.undo()
    assert landed
    # the loser's renamed parts were deleted; no commit published them
    assert {f for f in os.listdir(t) if f.startswith("part-")} == parts
    assert len(committed_entries(t)) == 2
    keys = sorted(r.k for r in read_committed(spark, t, schema).collect())
    assert keys == [k for k in range(50) if k not in (1, 2, 3, 4)]


def test_vacuum_folds_the_log_it_listed(spark, tmp_path, monkeypatch):
    """A coalesce landing while vacuum runs must not make vacuum treat
    the sidecars it just superseded as dead: vacuum's visible DVs, its
    candidates and the superseding commit all come from one listing.
    Sidecars superseded by the older, past-retention coalesce are
    reclaimed; the ones the fresh coalesce superseded survive."""
    import time

    from mapreduceframework_cpp_spark.sources import pysink
    from mapreduceframework_cpp_spark.sources.pysink import (
        coalesce_dvs,
        committed_dvs,
        delete_where,
    )

    register(spark)
    t = str(tmp_path)
    schema = "k bigint, v double"
    spark.range(50).selectExpr(
        "id AS k", "CAST(id AS DOUBLE) AS v"
    ).coalesce(2).write.format("txn_parquet").mode("append").save(t)
    delete_where(spark, t, schema, "k = 1")
    delete_where(spark, t, schema, "k = 2")
    first = set(committed_dvs(t))
    assert coalesce_dvs(spark, t)["coalesced"] == 2
    delete_where(spark, t, schema, "k = 3")
    live = set(committed_dvs(t))  # the first coalesce's dataset + k = 3
    assert len(live) == 2 and not live & first
    stale = time.time() - 7200  # everything so far is two "hours" old
    for root, dirs, files in os.walk(t):
        for p in [root] + [os.path.join(root, f) for f in files]:
            os.utime(p, (stale, stale))

    real = pysink._reclaim_invisible

    def reclaim_then_coalesce(*args, **kwargs):
        out = real(*args, **kwargs)
        assert coalesce_dvs(spark, t)["coalesced"] == 2
        return out

    monkeypatch.setattr(pysink, "_reclaim_invisible", reclaim_then_coalesce)
    vacuum(t, min_age_s=3600)
    monkeypatch.undo()
    assert not any(os.path.exists(d) for d in first)
    # superseded a moment ago: a reader that planned before the second
    # coalesce may still be anti-joining these
    assert all(os.path.isdir(d) for d in live)
    assert read_committed(spark, t, schema).count() == 47


def test_change_window_must_be_a_snapshot_range(spark, tmp_path):
    """A negative start or an end before the start is refused, through
    read_changes and through the format API (plain and change feed)."""
    register(spark)
    t = str(tmp_path)
    for i in range(3):
        spark.range(i * 5, i * 5 + 5).selectExpr(
            "id AS k", "CAST(id AS DOUBLE) AS v"
        ).coalesce(1).write.format("txn_parquet").mode("append").save(t)
    schema = "k bigint, v double"
    assert read_changes(spark, t, schema, 0, 3).count() == 15
    for frm, to in ((-1, 2), (2, 1)):
        with pytest.raises(ValueError, match="not a snapshot range"):
            read_changes(spark, t, schema, frm, to)
        for cdf in ("false", "true"):
            with pytest.raises(Exception, match="not a snapshot range"):
                spark.read.format("txn_parquet").option(
                    "readChangeFeed", cdf
                ).option("changesFrom", frm).option(
                    "changesTo", to
                ).load(t).count()
