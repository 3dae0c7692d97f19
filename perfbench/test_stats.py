"""Tests for the benchmark's own math. Run: python3 -m pytest perfbench -q"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402
from layers import WarehouseCommits  # noqa: E402


class S:
    def __init__(self, id, parent, start, end):
        self.id, self.parent, self.start, self.end = id, parent, start, end


def test_percentile_interpolates_like_numpy():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert stats.percentile(xs, 0) == 1.0
    assert stats.percentile(xs, 50) == 2.5
    assert stats.percentile(xs, 100) == 4.0
    assert stats.percentile(xs, 75) == pytest.approx(3.25)


@pytest.mark.parametrize(
    "n, q",
    [(0, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0),
     (100, 90.0), (199, 90.0), (200, 95.0), (1000, 99.0), (10_000, 99.9)],
)
def test_tail_needs_ten_samples_beyond_and_twenty_in_all(n, q):
    assert stats.tail_percentile(n) == q


def test_tail_value_is_that_percentile():
    xs = list(range(1, 41))  # 40 samples -> p75
    q, v = stats.tail(xs)
    assert q == 75.0
    assert v == pytest.approx(stats.percentile(xs, 75))
    assert sum(x > v for x in xs) >= 10
    assert stats.tail(xs[:19]) is None


def test_self_time_subtracts_children_once():
    spans = [
        S(0, None, 0.0, 10.0),
        S(1, 0, 1.0, 4.0),   # child
        S(2, 0, 3.0, 5.0),   # overlaps child 1: 1..5 covered once
        S(3, 1, 1.5, 2.0),   # grandchild: not subtracted from the root
        S(4, 0, 9.0, 12.0),  # runs past the parent: clipped at 10
    ]
    got = stats.self_times(spans)
    assert got[0] == pytest.approx(10.0 - 4.0 - 1.0)
    assert got[1] == pytest.approx(3.0 - 0.5)
    assert got[3] == pytest.approx(0.5)


def test_union_length_merges_overlaps():
    assert stats.union_length([(0, 2), (1, 3), (5, 6), (6, 6)]) == 4
    assert stats.union_length([]) == 0
    assert stats.clip([(0, 2), (3, 9), (10, 11)], 1, 5) == [(1, 2), (3, 5)]


def test_group_aggregation_counts_a_shared_stage_once():
    jobs = [
        {"job_id": 2, "group": "b", "stage_ids": [3, 4]},   # 3 reused: skipped here
        {"job_id": 1, "group": "a", "stage_ids": [2, 3]},
        {"job_id": 5, "group": "a", "stage_ids": [9]},      # 9 never ran
    ]
    stages = {
        2: {"tasks": 4, "task_ms": 10},
        3: {"tasks": 8, "task_ms": 100},
        4: {"tasks": 1, "task_ms": 7},
    }
    got = stats.aggregate_by_group(jobs, stages)
    assert got["a"] == {"jobs": 2, "tasks": 12, "task_ms": 110}
    assert got["b"] == {"jobs": 1, "tasks": 1, "task_ms": 7}


def test_bytes_ratio_and_new_files():
    seen = {"data/a"}
    snaps = [
        {"files": [{"path": "data/a", "bytes": 5}, {"path": "data/b", "bytes": 7}]},
        {"files": [{"path": "data/b", "bytes": 7}, {"path": "data/c", "bytes": 11}]},
    ]
    new = stats.new_files_since(snaps, seen)
    assert [f["path"] for f in new] == ["data/b", "data/c"]
    assert stats.bytes_ratio(sum(f["bytes"] for f in new), 9) == 2.0
    assert stats.new_files_since(snaps, seen) == []
    with pytest.raises(ValueError):
        stats.bytes_ratio(1, 0)


def test_warehouse_commits_count_versions_and_metadata_bytes(tmp_path):
    mdir = tmp_path / "wh" / "t" / "metadata"
    mdir.mkdir(parents=True)

    def commit(v, size):
        (mdir / f"v{v}.metadata.json").write_text("x" * size)
        (mdir / "VERSION").write_text(str(v))

    commit(0, 10)
    counter = WarehouseCommits(str(tmp_path / "wh"))
    commit(1, 100)
    commit(2, 200)

    class Epoch:
        epoch = 7

    counter(Epoch)
    assert counter.by_epoch[7] == (2, 300)
    counter(Epoch)
    assert counter.by_epoch[7] == (2, 300)
