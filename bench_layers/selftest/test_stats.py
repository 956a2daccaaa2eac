"""Percentile, sample-count and win-rule math."""

import statistics

import pytest

from bench_layers.stats import percentile, quartiles, samples_needed, win_rule


def test_percentile_matches_linear_interpolation():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert percentile(xs, 0) == 1.0
    assert percentile(xs, 50) == 3.0
    assert percentile(xs, 100) == 5.0
    assert percentile(xs, 90) == pytest.approx(4.6)
    assert percentile([7.0], 90) == 7.0


def test_percentile_of_empty_sample_raises():
    with pytest.raises(ValueError):
        percentile([], 50)


def test_samples_needed_leaves_ten_beyond():
    assert samples_needed(90) == 100
    assert samples_needed(50) == 20
    assert samples_needed(99) == 1000
    n = samples_needed(90)
    xs = list(range(n))
    assert sum(1 for x in xs if x > percentile(xs, 90)) >= 10


def test_quartiles_follow_statistics_quantiles():
    xs = [10.0, 11.0, 12.0, 13.0, 14.0, 15.0, 16.0, 17.0, 18.0, 19.0]
    assert quartiles(xs) == tuple(statistics.quantiles(xs, n=4))


def test_win_rule_claims_a_clear_gain():
    parent = [10.0, 10.2, 9.9, 10.1, 10.0, 10.3, 9.8, 10.1, 10.2, 10.0]
    change = [8.0, 8.1, 7.9, 8.2, 8.0, 8.1, 7.8, 8.0, 8.3, 10.4]
    r = win_rule(parent, change, "lower")
    assert r["wins"] == 9 and r["losses"] == 1
    assert r["gain_claimed"]


def test_win_rule_needs_nine_of_ten():
    parent = [10.0] * 10
    change = [8.0] * 8 + [10.0, 12.0]   # 8 wins, 1 tie, 1 loss
    r = win_rule(parent, change, "lower")
    assert r["wins"] == 8
    assert not r["gain_claimed"]


def test_win_rule_needs_median_gap_beyond_parent_iqr():
    parent = [8.0, 12.0, 9.0, 11.0, 8.5, 11.5, 9.5, 10.5, 8.0, 12.0]
    change = [p - 0.1 for p in parent]  # wins every pair by a hair
    r = win_rule(parent, change, "lower")
    assert r["wins"] == 10
    assert not r["gain_claimed"]


def test_win_rule_direction_higher():
    parent = [1.0, 1.1, 1.0, 1.05, 1.0, 1.02, 1.01, 1.0, 1.03, 1.0]
    change = [2.0] * 10
    assert win_rule(parent, change, "higher")["gain_claimed"]
    assert not win_rule(parent, change, "lower")["gain_claimed"]


def test_win_rule_rejects_unpaired_input():
    with pytest.raises(ValueError):
        win_rule([1.0, 2.0], [1.0], "lower")
