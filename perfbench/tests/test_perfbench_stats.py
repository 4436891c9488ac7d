"""The percentile / sample-count rule and the steadiness figure."""

from __future__ import annotations

import statistics

import pytest

from perfbench.stats import percentile, spread, summarize, tail_percentile


@pytest.mark.parametrize(
    "n, expected",
    [(1, None), (19, None), (99, None), (100, 90.0), (999, 90.0), (1000, 99.0), (10_000, 99.9)],
)
def test_tail_percentile_needs_ten_samples_beyond(n, expected):
    assert tail_percentile(n) == expected
    if expected is not None:
        assert n * (100 - expected) / 100 >= 10 - 1e-9


def test_percentile_interpolates():
    assert percentile([3.0, 1.0, 2.0], 50) == 2.0
    assert percentile([0.0, 10.0], 90) == pytest.approx(9.0)
    assert percentile([5.0], 99) == 5.0
    with pytest.raises(ValueError):
        percentile([], 50)


def test_summarize_reports_count_median_and_tail_only_when_supported():
    assert summarize([]) == {"n": 0}
    small = summarize([1.0, 3.0, 2.0])
    assert small == {"n": 3, "median": 2.0}
    big = summarize([float(i) for i in range(100)])
    assert big["n"] == 100 and big["median"] == 49.5
    assert big["p90"] == pytest.approx(89.1)


def test_spread_matches_statistics_quantiles():
    vals = [10.0, 11.0, 9.5, 10.4, 10.1, 9.9, 10.8, 10.2, 9.7, 10.3]
    q1, _, q3 = statistics.quantiles(vals, n=4)
    assert spread(vals) == pytest.approx((q3 - q1) / statistics.median(vals))
    assert spread([2.0, 2.0, 2.0]) == 0.0
