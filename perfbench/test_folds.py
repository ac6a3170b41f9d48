"""Tests for the event-log and span folds and for the PCA check.

    python3 -m pytest perfbench -q -p no:cacheprovider

``fixtures/`` holds an event log Spark 4.1 recorded for two queries
(``q_dedup_embedding`` and ``q_sink_python``, job groups ``pb:0:<query>``),
cut down to the fields the fold reads.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import eventlog  # noqa: E402

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")


@pytest.fixture(scope="module")
def groups():
    return eventlog.fold(eventlog.read_events(FIXTURES))


def test_union_length_counts_overlap_once():
    assert eventlog.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert eventlog.union_length([(0, 10), (2, 3)]) == 10
    assert eventlog.union_length([]) == 0


def test_self_time_subtracts_covered_part_only():
    # children overlap each other and one sticks out past the span's end
    assert eventlog.self_time(0, 10, [(1, 3), (2, 4), (8, 12)]) == 5
    assert eventlog.self_time(0, 10, [(20, 30)]) == 10


def test_task_skew_skips_single_task_stages():
    assert eventlog.task_skew([[1, 1], [2, 4], [5]]) == pytest.approx(5 / 4)
    assert eventlog.task_skew([[3]]) is None


def test_fold_groups_jobs_stages_tasks(groups):
    assert set(groups) == {"pb:0:q_dedup_embedding", "pb:0:q_sink_python"}
    dedup = groups["pb:0:q_dedup_embedding"]
    assert (dedup["jobs"], dedup["stages"], dedup["tasks"]) == (4, 4, 6)
    assert dedup["failed_tasks"] == 0
    assert dedup["tasks"] == sum(len(t) for t in dedup["stage_task_run_ms"])
    assert dedup["run_s"] == pytest.approx(sum(map(sum, dedup["stage_task_run_ms"])) / 1e3)
    assert dedup["shuffle_write_b"] == dedup["shuffle_read_b"] > 0


def test_fold_reads_join_output_rows(groups):
    # the similarity join's SQL metric: 73 pairs out, the result's rows
    assert groups["pb:0:q_dedup_embedding"]["join_rows"] == 73
    assert groups["pb:0:q_sink_python"]["join_rows"] == 0


def test_driver_gap_on_recorded_query(groups):
    g = groups["pb:0:q_dedup_embedding"]
    start = min(lo for lo, _ in g["job_spans"])
    end = max(hi for _, hi in g["job_spans"])
    # stages 2 and 3 overlap: 0.521 + (42.003 - 40.960) + 1.935 s busy
    busy = 0.521 + 1.043 + 1.935
    assert eventlog.driver_gap(start, end, g["stage_spans"]) == pytest.approx(end - start - busy)
    assert eventlog.task_skew(g["stage_task_run_ms"]) == pytest.approx(1880 / (5241 / 3))


def _pca_rows(x: np.ndarray, v: np.ndarray):
    xc = x - x.mean(axis=0)
    eig = float(v @ (xc.T @ xc / (len(x) - 1)) @ v)
    return ["dim", "loading", "eigenvalue"], [(i, float(c), eig) for i, c in enumerate(v)]


def test_pca_check_accepts_top_eigenvector_and_rejects_unconverged():
    rng = np.random.default_rng(0)
    x = rng.standard_normal((400, 8)) * np.arange(1, 9)
    xc = x - x.mean(axis=0)
    top = np.linalg.eigh(xc.T @ xc / (len(x) - 1))[1][:, -1]
    assert checks._check_pca(x, *_pca_rows(x, top)) is None
    flat = np.ones(8) / np.sqrt(8)
    assert "outside" in checks._check_pca(x, *_pca_rows(x, flat))
