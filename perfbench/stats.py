"""Order statistics and the verdict rule for comparing two result sets.

The tail rule follows the benchmark's metric contract: report the highest
percentile that still has at least ``MIN_BEYOND`` samples strictly beyond
it.  With too few samples for any percentile above the median, the tail is
the median itself, reported as ``p50`` so the reader sees why.
"""

from __future__ import annotations

import math
import statistics

TAIL_GRID = (99.9, 99.0, 95.0, 90.0, 75.0)
MIN_BEYOND = 10


def nearest_rank(sorted_values: list[float], p: float) -> tuple[float, int]:
    """(value, samples beyond it) of the nearest-rank ``p``-th percentile."""
    n = len(sorted_values)
    rank = max(1, math.ceil(p / 100.0 * n))
    return sorted_values[rank - 1], n - rank


def tail(values: list[float]) -> dict:
    """Latency at the highest grid percentile with ``MIN_BEYOND`` or more
    samples beyond it; falls back to the median (``percentile`` 50)."""
    xs = sorted(values)
    for p in TAIL_GRID:
        v, beyond = nearest_rank(xs, p)
        if beyond >= MIN_BEYOND:
            return {"value": v, "percentile": p, "n": len(xs), "beyond": beyond}
    return {
        "value": statistics.median(xs),
        "percentile": 50.0,
        "n": len(xs),
        "beyond": len(xs) // 2,
    }


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives them."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values: list[float]) -> float:
    """Inter-quartile distance as a share of the median."""
    q1, med, q3 = quartiles(values)
    return (q3 - q1) / abs(med) if med else math.inf


def verdict(parent: list[float], change: list[float], bound: float, better: str) -> dict:
    """Classify ``change`` against ``parent`` for one (metric, workload).

    ``parent[i]`` and ``change[i]`` are a pair (same seed or same slot in
    the alternation).  The rule:

    - **improved**: the change wins at least nine tenths of the pairs
      (ties count for neither) and the medians differ, in the better
      direction, by more than the parent's inter-quartile distance;
    - **worse**: the change's median is worse than the parent's by more
      than ``bound`` (a share of the parent median), and either the
      parent's own spread is within the bound or every change run is
      worse than every parent run;
    - **unresolved**: the parent's spread is wider than the bound and the
      runs do not separate completely, so "unchanged" cannot be shown;
    - **within bound** otherwise.
    """
    if better not in ("lower", "higher"):
        raise ValueError(f"better must be 'lower' or 'higher', got {better!r}")
    sign = 1.0 if better == "lower" else -1.0  # positive delta = worse
    pq1, pmed, pq3 = quartiles(parent)
    _, cmed, _ = quartiles(change)
    pairs = list(zip(parent, change))
    wins = sum(1 for p, c in pairs if sign * (c - p) < 0)
    win_frac = wins / len(pairs) if pairs else 0.0
    worse_by = sign * (cmed - pmed) / abs(pmed) if pmed else math.inf
    p_spread = (pq3 - pq1) / abs(pmed) if pmed else math.inf
    all_better = all(sign * (c - p) < 0 for c in change for p in parent)
    all_worse = all(sign * (c - p) > 0 for c in change for p in parent)
    if win_frac >= 0.9 and -sign * (cmed - pmed) > (pq3 - pq1):
        v = "improved"
    elif worse_by > bound and (p_spread <= bound or all_worse):
        v = "worse"
    elif p_spread > bound and not all_better:
        v = "unresolved"
    else:
        v = "within bound"
    return {
        "verdict": v,
        "parent_median": pmed,
        "parent_q1": pq1,
        "parent_q3": pq3,
        "change_median": cmed,
        "change_q1": quartiles(change)[0],
        "change_q3": quartiles(change)[2],
        "win_frac": win_frac,
        "worse_by": worse_by,
        "parent_spread": p_spread,
    }
