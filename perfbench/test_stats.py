"""Tests for the benchmark's arithmetic: python3 -m pytest perfbench -q"""

from __future__ import annotations

import statistics
from types import SimpleNamespace

import pytest

import stats


def span(i, parent, start, end):
    return SimpleNamespace(id=i, parent=parent, start=start, end=end)


@pytest.mark.parametrize(
    "n, level",
    [
        (1, 50.0),  # too few samples for any level: fall back to the median
        (19, 50.0),
        (20, 50.0),  # p50 has exactly ten beyond it
        (39, 50.0),
        (40, 75.0),
        (99, 75.0),
        (100, 90.0),
        (199, 90.0),
        (200, 95.0),
        (1000, 99.0),
        (10_000, 99.9),
    ],
)
def test_tail_level_keeps_ten_samples_beyond(n, level):
    assert stats.tail_level(n) == level
    if n >= 20:
        assert round(n * (100 - level) / 100, 9) >= stats.MIN_BEYOND


def test_tail_value_on_known_samples():
    values = [float(i) for i in range(1, 101)]  # 100 samples -> p90
    level, value = stats.tail(values)
    assert level == 90.0
    assert value == pytest.approx(90.1)


def test_percentile_matches_statistics_median():
    values = [5.0, 1.0, 3.0, 2.0]
    assert stats.percentile(values, 50) == statistics.median(values)
    assert stats.percentile([7.0], 99) == 7.0
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def test_self_time_subtracts_children():
    spans = [span(1, None, 0.0, 10.0), span(2, 1, 1.0, 3.0), span(3, 1, 5.0, 9.0),
             span(4, 3, 6.0, 7.0)]
    st = stats.self_times(spans)
    assert st[1] == pytest.approx(4.0)
    assert st[2] == pytest.approx(2.0)
    assert st[3] == pytest.approx(3.0)  # only its direct child counts
    assert st[4] == pytest.approx(1.0)


def test_self_time_merges_overlapping_children_and_clips():
    spans = [span(1, None, 0.0, 10.0), span(2, 1, 2.0, 6.0), span(3, 1, 4.0, 8.0),
             span(4, 1, 9.0, 12.0)]
    # children cover [2, 8] and [9, 10] inside the parent
    assert stats.self_times(spans)[1] == pytest.approx(3.0)


def test_space_amp():
    assert stats.space_amp(3000, 1000) == 3.0
    assert stats.space_amp(1000, 1000) == 1.0
    with pytest.raises(ValueError):
        stats.space_amp(10, 0)


def test_fail_ratio():
    assert stats.fail_ratio(0, 40) == 0.0
    assert stats.fail_ratio(3, 12) == 0.25
    for failed, attempted in ((1, 0), (-1, 5), (6, 5)):
        with pytest.raises(ValueError):
            stats.fail_ratio(failed, attempted)
