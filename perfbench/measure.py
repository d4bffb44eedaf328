"""Arithmetic of the benchmark: percentiles, span self time, ranking
comparison, error rate.

Pure functions with no Spark or engine imports, so they are tested on
their own (``python3 -m pytest perfbench``).
"""

from __future__ import annotations

import math
import statistics
from dataclasses import dataclass


def percentile(values: list[float], pct: float) -> float:
    """Linear-interpolated percentile (numpy's default method) of
    ``values`` at ``pct`` in [0, 100]."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * pct / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail(values: list[float], target: float = 90.0, beyond: int = 10):
    """The highest percentile, at most ``target``, that still has
    ``beyond`` samples above it, as ``(pct, value, n)``.

    With n samples that percentile is 100 * (1 - beyond / n); p90 needs
    n >= 100. Returns None when no percentile above the median qualifies
    (n < 2 * beyond): such a run has no tail worth reporting."""
    n = len(values)
    if n < 2 * beyond:
        return None
    pct = min(target, 100.0 * (1.0 - beyond / n))
    return pct, percentile(values, pct), n


def quartile_spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, with quartiles as ``statistics.quantiles``
    gives them (its default, exclusive method)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


@dataclass(frozen=True)
class Span:
    sid: int
    parent: int | None
    name: str
    start: float
    end: float
    request: int | None = None

    @property
    def duration(self) -> float:
        return self.end - self.start


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        s, e = max(s, lo), min(e, hi)
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> self time: the span's duration minus the part of its
    interval that its direct children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.sid: s.duration - _covered(children.get(s.sid, []), s.start, s.end)
        for s in spans
    }


def same_ranking(got, exp, k: int, tol: float = 1e-6, tie: float = 1e-12) -> bool:
    """Whether ``got``, a top-``k`` list of (doc_id, score), is the top
    ``k`` of ``exp``, the expected ranking (it may run past ``k``).

    Each rank's score must be within ``tol`` of the expected one, and
    each rank must hold the expected doc, except that docs whose
    expected scores agree to within ``tie`` (relative) may come in any
    order, also across the cut at ``k``. Two different docs can score
    the same up to float rounding, and then which one a summation order
    puts first is rounding noise, not ranking."""
    if len(got) != min(k, len(exp)) or len({int(d) for d, _ in got}) != len(got):
        return False
    expected = {int(d): sc for d, sc in exp}
    for (d, sc), (ed, esc) in zip(got, exp):
        if abs(sc - esc) > tol:
            return False
        if int(d) != int(ed) and (
            int(d) not in expected or abs(expected[int(d)] - esc) > tie * abs(esc)
        ):
            return False
    return True


def error_rate(attempted: int, failed: int) -> float:
    """Failed or wrong operations per attempted operation. The base is
    operations, not checks: an operation that fails several checks
    counts once in ``failed``."""
    if attempted < 1:
        raise ValueError("error rate needs at least one attempted operation")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, attempted={attempted}]")
    return failed / attempted
