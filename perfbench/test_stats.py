"""Unit tests for the benchmark's own arithmetic (no Spark needed):

    python3 -m pytest perfbench/test_stats.py -q
"""

from __future__ import annotations

import math
import os
import statistics
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402


def test_tail_is_highest_percentile_with_ten_beyond():
    xs = list(range(1, 101))  # 100 samples: p90 has exactly 10 above it
    t = stats.tail(xs)
    assert t["value"] == 90 and t["pct"] == 90.0 and t["beyond"] == 10
    assert sum(x > t["value"] for x in xs) == 10
    t = stats.tail(list(range(1, 1001)))  # 1000 samples: p99
    assert t["value"] == 990 and t["pct"] == 99.0


def test_tail_on_small_samples_is_the_maximum():
    xs = [5.0, 1.0, 3.0, 4.0, 2.0]  # no rank above the median has 10 beyond
    assert stats.tail(xs) == {"value": 5.0, "pct": 100.0, "n": 5, "beyond": 0}
    xs = list(range(1, 21))  # 20 samples: rank 10 is the median itself
    assert stats.tail(xs)["value"] == 20
    xs = list(range(1, 22))  # 21 samples: rank 11 is the median itself
    assert stats.tail(xs)["value"] == 21
    xs = list(range(1, 23))  # 22 samples: rank 12, just above the median
    t = stats.tail(xs)
    assert t["value"] == 12 > stats.median(xs) and t["beyond"] == 10
    xs = list(range(1, 33))  # 32 samples (two passes of 16 ops): p68.75
    t = stats.tail(xs)
    assert t["value"] == 22 and t["pct"] == pytest.approx(68.75)
    assert stats.tail([7.0]) == {"value": 7.0, "pct": 100.0, "n": 1, "beyond": 0}


def test_tail_is_order_insensitive():
    xs = [3.0, 9.0, 1.0, 7.0] * 10
    assert stats.tail(xs) == stats.tail(sorted(xs))


def test_quantile_matches_linear_interpolation():
    assert stats.quantile([1, 2, 3, 4], 0.5) == 2.5
    assert stats.quantile([10.0], 0.9) == 10.0
    assert stats.quantile([0, 10], 0.25) == 2.5
    with pytest.raises(ValueError):
        stats.quantile([], 0.5)


def test_geomean_and_geomean_of_medians():
    assert stats.geomean([1, 100]) == pytest.approx(10.0)
    assert stats.geomean([2.0, 8.0]) == pytest.approx(4.0)
    by_type = {"fast": [0.1, 0.1, 0.3], "slow": [10.0, 12.0, 10.0]}
    # medians 0.1 and 10 -> geomean 1.0, while the pooled p50 would be 5.05
    assert stats.geomean_of_medians(by_type) == pytest.approx(1.0)
    with pytest.raises(ValueError):
        stats.geomean([1.0, 0.0])


def test_spread_uses_statistics_quartiles():
    vals = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0]
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    assert stats.spread(vals) == pytest.approx((q3 - q1) / q2)


def _span(i, start, end, parent=None):
    return {"id": i, "name": f"s{i}", "start": start, "end": end, "parent": parent}


def test_self_time_subtracts_children():
    spans = [_span(0, 0.0, 10.0), _span(1, 1.0, 3.0, 0), _span(2, 5.0, 6.0, 0),
             _span(3, 1.5, 2.0, 1)]
    st = stats.self_times(spans)
    assert st[0] == pytest.approx(7.0)  # 10 - 2 - 1
    assert st[1] == pytest.approx(1.5)  # 2 - 0.5 (grandchild only hits its parent)
    assert st[2] == pytest.approx(1.0)
    assert st[3] == pytest.approx(0.5)


def test_self_time_does_not_double_count_overlapping_children():
    # two children on other threads overlapping each other and the edge
    spans = [_span(0, 0.0, 10.0), _span(1, 2.0, 6.0, 0), _span(2, 4.0, 8.0, 0),
             _span(3, 9.0, 12.0, 0)]
    assert stats.self_times(spans)[0] == pytest.approx(10.0 - 6.0 - 1.0)


def test_tick_latency_joins_tick_to_commit_of_its_batch():
    tick_file = {100: 0, 101: 0, 102: 1, 103: 1, 104: 2, 105: 3}
    file_due = {0: 10.0, 1: 10.5, 2: 11.0, 3: 11.5}
    tick_batch = {100: [7], 101: [7], 102: [8], 103: [8, 9], 104: [], 105: [9]}
    commits = {7: 11.2, 8: 12.0, 9: 13.0}
    lat = stats.file_latencies(tick_file, file_due, tick_batch, commits)
    # file 1 has a tick predicted twice, file 2 a tick never predicted
    assert lat == pytest.approx({0: 1.2, 3: 1.5})


def test_tick_latency_is_the_files_slowest_tick_and_needs_a_commit():
    lat = stats.file_latencies({1: 0, 2: 0}, {0: 1.0}, {1: [5], 2: [6]}, {5: 2.0, 6: 2.5})
    assert lat == pytest.approx({0: 1.5})
    assert stats.file_latencies({1: 0}, {0: 1.0}, {1: [5]}, {}) == {}


def test_generator_lateness():
    due = [0.0, 0.25, 0.5, 0.75]
    landed = [0.01, 0.25, 0.9, 0.76]
    late = stats.generator_lateness(due, landed)
    assert late["max_s"] == pytest.approx(0.4)
    assert late["p50_s"] == pytest.approx(0.01)
    assert stats.generator_lateness([], []) == {"max_s": 0.0, "p50_s": 0.0}
    with pytest.raises(ValueError):
        stats.generator_lateness([0.0], [])


def test_max_lag_counts_landed_not_committed():
    landed = [0.0, 1.0, 2.0, 3.0]
    committed = [1.5, 1.5, 3.5, math.inf]
    # at t=1: 2 landed, 0 committed; at t=2: 3 landed, 2 committed;
    # at t=3: 4 landed, 2 committed -> worst is 2
    assert stats.max_lag(landed, committed) == 2
    assert stats.max_lag([0.0, 0.1, 0.2], [math.inf] * 3) == 3


def test_result_digest_is_order_insensitive_and_type_tagged():
    from workloads import normalize

    a = normalize([(1, 2.0000001), (3, 4.0)], ["b", "a"])
    assert a == normalize([(3, 4.0), (1, 2.0)], ["b", "a"])  # row order, 6 digits
    assert normalize([(1, 2)], ["a", "b"]) == normalize([(2, 1)], ["b", "a"])
    assert normalize([(1,)], ["x"]) != normalize([(1.0,)], ["x"])  # int vs float
    assert normalize([(-0.0,)], ["x"]) == normalize([(0.0,)], ["x"])
    assert normalize([(1,)], ["x"]) != normalize([(1,), (1,)], ["x"])  # row count


def test_fixtures_are_a_function_of_the_seed(tmp_path):
    import fixtures

    def digest(seed, sub):
        t = fixtures.star_tables(seed, 0.001)
        t.update(fixtures.corpus_tables(seed, 40, 20))
        t.update(fixtures.bronze_tables(seed, 12, 5, 30))
        return fixtures.write_tables(t, str(tmp_path / sub)), fixtures.TickFeed(seed, 400).digest()

    assert digest(7, "a") == digest(7, "b")
    held_out = digest(8, "c")
    assert held_out[0] != digest(7, "d")[0] and held_out[1] != digest(7, "d")[1]


def test_tick_feed_labels_are_window_means():
    import fixtures

    feed = fixtures.TickFeed(3, 4 * 1300)  # 1300 event seconds per symbol
    want = feed.window_averages("BP", range(feed.n))
    assert sorted(want) == [feed.start_ms, feed.start_ms + 600_000, feed.start_ms + 1_200_000]
    first = [float(feed.price[i]) for i in range(0, 4 * 600, 4)]
    assert want[feed.start_ms] == pytest.approx(sum(first) / len(first))
