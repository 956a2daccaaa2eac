"""Sample statistics the harness reports, and the paired-run win rule."""

from __future__ import annotations

import math
import statistics


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, q in [0, 100] (numpy's default)."""
    if not values:
        raise ValueError("percentile of an empty sample")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def samples_needed(q: float, beyond: int = 10) -> int:
    """Smallest sample count that leaves at least `beyond` samples
    strictly above the q-th percentile (100 for p90 with 10 beyond)."""
    if not 0 <= q < 100:
        raise ValueError("q must be in [0, 100)")
    return math.ceil(beyond * 100.0 / (100.0 - q) - 1e-9)


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(Q1, median, Q3) as statistics.quantiles(n=4) gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


WIN_SHARE = 0.9


def win_rule(parent: list[float], change: list[float], better: str) -> dict:
    """The paired protocol: runs are paired by index; the change wins a
    pair when it is strictly better, ties count for neither side. A gain
    is claimed only if the change wins ≥ WIN_SHARE of all pairs AND the
    medians differ by more than the parent's interquartile distance."""
    if len(parent) != len(change) or not parent:
        raise ValueError("need equally many parent and change runs")
    sign = -1.0 if better == "lower" else 1.0
    wins = sum(1 for p, c in zip(parent, change) if sign * (c - p) > 0)
    losses = sum(1 for p, c in zip(parent, change) if sign * (c - p) < 0)
    pq1, pmed, pq3 = quartiles(parent) if len(parent) > 1 else \
        (parent[0], parent[0], parent[0])
    cmed = statistics.median(change)
    gain = sign * (cmed - pmed)
    claim = (wins >= math.ceil(WIN_SHARE * len(parent) - 1e-9)
             and gain > (pq3 - pq1))
    return {"pairs": len(parent), "wins": wins, "losses": losses,
            "parent_median": pmed, "change_median": cmed,
            "parent_iqr": pq3 - pq1, "gain_claimed": claim}
