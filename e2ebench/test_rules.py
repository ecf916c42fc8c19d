"""Self-tests of the benchmark's own rules (no Spark needed):

    python3 -m pytest -q e2ebench/test_rules.py
"""

from __future__ import annotations

import statistics

import pytest

import stats


def test_percentile_is_nearest_rank():
    values = list(range(1, 11))  # 1..10
    assert stats.percentile(values, 90) == 9
    assert stats.percentile(values, 91) == 10
    assert stats.percentile(values, 100) == 10
    assert stats.percentile([5.0], 90) == 5.0
    assert stats.percentile([3, 1, 2], 50) == 2  # order of the input does not matter
    with pytest.raises(ValueError):
        stats.percentile([], 50)
    with pytest.raises(ValueError):
        stats.percentile([1], 0)


def test_quartile_spread_follows_statistics_quantiles():
    values = [10.0, 11.0, 9.0, 10.5, 12.0, 9.5, 10.2, 10.8, 9.9, 10.1]
    q1, _, q3 = statistics.quantiles(values, n=4)
    assert stats.quartile_spread(values) == pytest.approx((q3 - q1) / statistics.median(values))
    # exclusive method: with 10 samples q1 sits a quarter of the way
    # between the 2nd and 3rd smallest
    ordered = sorted(values)
    assert q1 == pytest.approx(ordered[1] + 0.75 * (ordered[2] - ordered[1]))
    assert stats.quartile_spread([4.0] * 10) == 0.0


def test_median_and_geomean():
    assert stats.median([3.0, 1.0, 2.0, 10.0]) == 2.5
    assert stats.geomean([1.0, 100.0]) == pytest.approx(10.0)
    with pytest.raises(ValueError):
        stats.geomean([1.0, 0.0])


def test_self_time_subtracts_the_union_of_children():
    # span [0, 10]; children overlap each other and one sticks out
    children = [(1.0, 3.0), (2.0, 4.0), (8.0, 12.0), (20.0, 21.0)]
    assert stats.covered(children, 0.0, 10.0) == pytest.approx(3.0 + 2.0)
    assert stats.self_time(0.0, 10.0, children) == pytest.approx(5.0)
    assert stats.self_time(0.0, 10.0, []) == 10.0
    assert stats.self_time(0.0, 10.0, [(0.0, 10.0), (0.0, 10.0)]) == 0.0


def test_window_latency_attribution_with_a_batch_over_the_deadline():
    """Ticks for seconds 10.. are due at 100.5, 101.5, ...; triggers fire on
    whole seconds. Batch 3 overruns the 1 s deadline (2.3 s), so batch 4
    starts late and takes ticks 13 and 14 together."""
    due = {10 + i: 100.5 + i for i in range(6)}
    progress = [  # batch id, watermark it ran with, when its sink write returned
        {"batch_id": 1, "watermark": 4, "sink_return": 101.7},  # tick 10
        {"batch_id": 2, "watermark": 5, "sink_return": 102.7},  # tick 11
        {"batch_id": 3, "watermark": 6, "sink_return": 105.3},  # tick 12, over deadline
        {"batch_id": 4, "watermark": 7, "sink_return": 106.0},  # ticks 13, 14
        {"batch_id": 5, "watermark": 9, "sink_return": 106.7},  # tick 15
    ]
    got = stats.attribute_windows([5, 6, 7, 8, 9, 10], progress, due, watermark_delay=5)
    by_end = {a["window_end"]: a for a in got}
    assert set(by_end) == {5, 6, 7, 8, 9}  # no batch has reached watermark 10 yet
    assert {e: by_end[e]["closing_tick"] for e in by_end} == {5: 10, 6: 11, 7: 12, 8: 13, 9: 14}
    assert {e: by_end[e]["batch_id"] for e in by_end} == {5: 2, 6: 3, 7: 4, 8: 5, 9: 5}
    lat = {e: by_end[e]["latency_s"] for e in by_end}
    assert lat[5] == pytest.approx(102.7 - 100.5)
    assert lat[6] == pytest.approx(105.3 - 101.5)  # waits out the slow batch
    assert lat[7] == pytest.approx(106.0 - 102.5)  # queued behind it
    assert lat[8] == pytest.approx(106.7 - 103.5)
    assert lat[9] == pytest.approx(106.7 - 104.5)


def test_windows_without_a_due_closing_tick_are_left_out():
    progress = [{"batch_id": 0, "watermark": 3, "sink_return": 50.0}]
    assert stats.attribute_windows([3], progress, {}, watermark_delay=5) == []


def test_steal_share_widens_to_the_readings_around_the_interval():
    # (wall time, steal jiffies, total jiffies): 40 of 400 stolen in [1, 2],
    # none before or after
    readings = [(0.0, 0, 0), (1.0, 0, 400), (2.0, 40, 800), (3.0, 40, 1200)]
    assert stats.steal_share(readings, 1.0, 2.0) == pytest.approx(0.10)
    assert stats.steal_share(readings, 1.2, 1.8) == pytest.approx(0.10)  # widened to [1, 2]
    assert stats.steal_share(readings, 0.5, 2.5) == pytest.approx(40 / 1200)  # widened to [0, 3]
    assert stats.steal_share(readings, 2.0, 9.0) == 0.0  # past the last reading
    with pytest.raises(ValueError):
        stats.steal_share(readings[:1], 0.0, 1.0)


def test_samples_taken_under_steal_are_left_out():
    steals = [0.01, 0.20, 0.0, 0.05, 0.06]
    assert stats.steal_free(steals, 0.05, 2) == [0, 2, 3]
    # too few pass: the ones with the least steal stand in
    assert stats.steal_free(steals, 0.0, 3) == [0, 2, 3]
    assert stats.steal_free([0.3, 0.2], 0.05, 1) == [1]
