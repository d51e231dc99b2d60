"""Latency and percentile arithmetic, checked on a recorded progress
fixture. Run: ``python3 -m pytest perfbench/tests -q`` from the repo root."""

from __future__ import annotations

import json
import os
from datetime import datetime, timezone

import numpy as np
import pytest

from perfbench import stats

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "progress.json")


def _ms(hms: str) -> int:
    t = datetime.fromisoformat(f"2026-10-17T{hms}").replace(tzinfo=timezone.utc)
    return int(t.timestamp() * 1000)


@pytest.fixture
def progresses():
    with open(FIXTURE) as f:
        return [stats.progress_dict(p) for p in json.load(f)]


def test_offsets_parse_from_dict_json_and_python_repr():
    want = {"0": 2625, "1": 7}
    assert stats.parse_offsets({"0": 2625, "1": 7}) == want
    assert stats.parse_offsets('{"0": 2625, "1": 7}') == want
    # Python data sources on Spark 4.1 report a Python repr, not JSON
    assert stats.parse_offsets("{'0': 2625, '1': 7}") == want
    assert stats.parse_offsets(None) == {}


def test_commit_time_is_trigger_start_plus_batch_duration(progresses):
    assert stats.commit_ms(progresses[0]) == _ms("03:16:06.500")
    assert stats.commit_ms(progresses[1]) == _ms("03:16:07.500")


def test_record_latencies_match_offsets_to_due_times(progresses):
    a, b, c = _ms("03:16:04.000"), _ms("03:16:05.200"), _ms("03:16:06.600")
    due = []
    for p in (0, 1):
        due += [(a, p, 1000, 2000), (b, p, 2000, 2600), (c, p, 2600, 3000)]
    samples = stats.record_latencies(progresses, due)
    got: dict[float, int] = {}
    for ms, n in samples:
        got[ms] = got.get(ms, 0) + n
    # batch 5 commits 03:16:06.500 with [1000, 2500) of both partitions,
    # batch 6 commits 03:16:07.500 with [2500, 3000); batch 7 is empty
    assert got == {2500.0: 2000, 1300.0: 1000, 2300.0: 200, 900.0: 800}
    assert stats.weighted_percentile(samples, 50) == 2300.0
    assert stats.weighted_percentile(samples, 90) == 2500.0
    assert stats.weighted_percentile(samples, 20) == 900.0


def test_percentile_matches_numpy():
    rng = np.random.default_rng(7)
    xs = list(rng.exponential(3.0, 101))
    for p in (0, 10, 50, 90, 99, 100):
        assert stats.percentile(xs, p) == pytest.approx(np.percentile(xs, p))


def test_weighted_percentile_equals_expanded_samples():
    pairs = [(5.0, 3), (1.0, 2), (9.0, 5)]
    expanded = sorted(v for v, n in pairs for _ in range(n))
    for p in (10, 20, 50, 60, 90, 100):
        k = max(1, -(-len(expanded) * p // 100))  # nearest rank
        assert stats.weighted_percentile(pairs, p) == expanded[k - 1]


def test_top_percentile_leaves_ten_samples_beyond():
    assert stats.top_percentile(100) == 90
    assert stats.top_percentile(1000) == 99
    assert stats.top_percentile(40) == 75
    assert stats.top_percentile(10) == 0


def test_duration_sums(progresses):
    assert stats.sum_duration(progresses, "addBatch") == 2134.0
    assert stats.sum_duration(progresses, "walCommit") == 74.0
