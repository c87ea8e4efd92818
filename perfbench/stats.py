"""Pure statistics for the benchmark: summaries, the tail rule, digests, A/B.

Nothing here touches Spark, so the unit tests in ``test_perfbench.py``
run in milliseconds.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import math
import statistics

#: a tail percentile is reported only when at least this many samples lie beyond it
TAIL_MIN_BEYOND = 10


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(n=4)`` gives them."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def tail_percentile(n: int) -> int | None:
    """The highest whole percentile with at least ``TAIL_MIN_BEYOND`` samples beyond it.

    With n samples, percentile p leaves ``n * (100 - p) / 100`` samples
    above it; the rule asks for the largest p where that is >= 10, so 20
    samples support p50, 100 support p90 and 1000 support p99. Fewer than
    20 samples support no tail beyond the median, and the answer is None.
    """
    best = None
    for p in range(50, 100):
        if n * (100 - p) / 100 >= TAIL_MIN_BEYOND:
            best = p
    return best


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (the 'inclusive' method)."""
    s = sorted(values)
    if len(s) == 1:
        return s[0]
    k = (len(s) - 1) * p / 100
    lo = math.floor(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def summarize(values: list[float]) -> dict:
    """Median, quartiles, n and the tail percentile the sample supports."""
    if not values:
        raise ValueError("cannot summarize an empty sample")
    q1, med, q3 = quartiles(values)
    out = {"n": len(values), "median": med, "q1": q1, "q3": q3, "iqr": q3 - q1}
    p = tail_percentile(len(values))
    if p is not None:
        out[f"p{p}"] = percentile(values, p)
    return out


def _norm(v):
    """Normalise one value so Spark and DuckDB results hash alike."""
    if isinstance(v, float):
        if v == 0 or not math.isfinite(v):
            return 0.0 if v == 0 else repr(v)
        return round(v, 9 - int(math.floor(math.log10(abs(v)))) - 1)
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def digest(columns: list[str], rows) -> tuple[int, str]:
    """(row count, order-insensitive SHA-256) of a result.

    Columns are sorted by name and rows by their normalised repr, so
    neither column order nor row order changes the digest.
    """
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    names = [columns[i] for i in order]
    lines = sorted(repr(tuple(_norm(r[i]) for i in order)) for r in rows)
    h = hashlib.sha256(repr(names).encode())
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return len(lines), h.hexdigest()


def ab_decision(parent: list[float], change: list[float], better: str, bound: float) -> dict:
    """Decide one metric of a paired A/B run.

    ``parent[i]`` and ``change[i]`` are the two sides of pair i. A gain is
    claimed when the change wins at least 9 of every 10 pairs (ties count
    for neither side) and the medians differ by more than the parent's
    interquartile distance. A regression is the mirror image. When the
    parent's own spread exceeds the metric's bound, the pairs cannot
    resolve a change of that size and the verdict is ``unresolved``,
    unless every change run beats every parent run (or the reverse).
    """
    if len(parent) != len(change) or len(parent) < 10:
        raise ValueError("an A/B needs at least 10 complete pairs")
    sign = -1.0 if better == "lower" else 1.0
    wins = sum(1 for p, c in zip(parent, change) if sign * (c - p) > 0)
    losses = sum(1 for p, c in zip(parent, change) if sign * (c - p) < 0)
    pq1, pmed, pq3 = quartiles(parent)
    cq1, cmed, cq3 = quartiles(change)
    iqr = pq3 - pq1
    apart = abs(cmed - pmed) > iqr
    need = math.ceil(0.9 * len(parent))
    spread = iqr / abs(pmed) if pmed else math.inf
    out = {
        "pairs": len(parent),
        "wins": wins,
        "losses": losses,
        "parent": {"median": pmed, "q1": pq1, "q3": pq3},
        "change": {"median": cmed, "q1": cq1, "q3": cq3},
        "parent_spread": spread,
    }
    # in "higher is better" units, so one comparison serves both directions
    up_parent = [sign * v for v in parent]
    up_change = [sign * v for v in change]
    if min(up_change) > max(up_parent):
        out["verdict"] = "gain"
    elif max(up_change) < min(up_parent):
        out["verdict"] = "regression"
    elif spread > bound:
        out["verdict"] = "unresolved"
    elif wins >= need and apart:
        out["verdict"] = "gain"
    elif losses >= need and apart:
        out["verdict"] = "regression"
    elif sign * (cmed - pmed) < -bound * abs(pmed):
        out["verdict"] = "regression"
    else:
        out["verdict"] = "no change"
    return out
