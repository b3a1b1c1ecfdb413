"""The benchmark's own arithmetic: percentiles, latency, backlog, spread."""

import json
import statistics
from pathlib import Path

import pytest
import stats


def test_percentile_matches_linear_interpolation():
    xs = list(range(1, 101))
    assert stats.percentile(xs, 50) == pytest.approx(50.5)
    assert stats.percentile(xs, 90) == pytest.approx(90.1)
    assert stats.percentile([7.0], 99) == 7.0
    with pytest.raises(ValueError):
        stats.percentile([], 50)


@pytest.mark.parametrize(
    "n, expected",
    [
        (1000, 99.0),  # exactly 10 beyond p99
        (999, 95.0),
        (200, 95.0),
        (100, 90.0),  # exactly 10 beyond p90
        (99, 75.0),
        (40, 75.0),
        (20, 50.0),
        (19, None),
        (10_000, 99.9),
    ],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, expected):
    p = stats.tail_percentile(n)
    assert p == expected
    if p is not None:
        assert round(n * (100 - p) / 100, 6) >= stats.MIN_BEYOND


def test_latency_counts_from_due_time_not_send_time():
    # Ten events due 100 ms apart; the generator stalled and sent them
    # all at t=1.0 s, and their results committed at t=1.2 s.
    due_us = [i * 100_000 for i in range(10)]
    result_us = [1_200_000] * 10
    lat = stats.event_latencies_ms(due_us, result_us)
    assert lat[0] == pytest.approx(1200.0)  # waited through the whole stall
    assert lat[-1] == pytest.approx(300.0)
    assert statistics.median(lat) == pytest.approx(750.0)
    with pytest.raises(ValueError):
        stats.event_latencies_ms([1, 2], [3])


def test_backlog_slope_is_zero_when_commits_keep_up():
    # 100 rows published every 0.1 s, each committed 0.3 s later.
    pub = [(i / 10, 100) for i in range(100)]
    com = [(t + 0.3, n) for t, n in pub]
    ts, ys = stats.backlog_series(pub, com, 1.0, 9.0, 0.25)
    assert max(ys) <= 400
    assert abs(stats.slope(ts, ys)) < 5.0


def test_backlog_slope_is_the_shortfall_when_commits_fall_behind():
    # 1000 rows/s published, 600 rows/s committed: backlog grows 400 rows/s.
    pub = [(i / 10, 100) for i in range(100)]
    com = [(i / 6, 100) for i in range(60)]
    ts, ys = stats.backlog_series(pub, com, 1.0, 9.0, 0.25)
    assert stats.slope(ts, ys) == pytest.approx(400.0, rel=0.05)
    assert ys[-1] > ys[0]


def test_slope_of_a_line_and_degenerate_inputs():
    assert stats.slope([0, 1, 2, 3], [5, 7, 9, 11]) == pytest.approx(2.0)
    assert stats.slope([1.0], [3.0]) == 0.0
    assert stats.slope([2, 2, 2], [1, 5, 9]) == 0.0
    with pytest.raises(ValueError):
        stats.backlog_series([], [], 0, 1, 0)


def test_spread_uses_statistics_quantiles():
    vals = [10.0, 11.0, 9.0, 10.5, 9.5, 10.2, 9.8, 10.1, 9.9, 10.0]
    q1, med, q3 = statistics.quantiles(vals, n=4)
    sp = stats.spread(vals)
    assert (sp["q1"], sp["median"], sp["q3"]) == (q1, med, q3)
    assert sp["iqr_over_median"] == pytest.approx((q3 - q1) / med)


def test_benchmark_json_bounds():
    bench = json.loads((Path(__file__).resolve().parents[2] / "BENCHMARK.json").read_text())
    assert len(bench["per_layer"]) <= 128
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values())
    assert all(m["bound"] <= 0.25 for m in e2e.values())
