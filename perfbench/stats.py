"""Spark-free statistics used by the benchmark: medians, quartiles, the
supported-percentile rule, span self time and failure accounting.

Kept free of Spark imports so ``perfbench/tests`` can check it in
milliseconds.
"""

from __future__ import annotations

import math
import statistics

# Percentiles the report may name, lowest first.
PERCENTILES = (50.0, 90.0, 99.0, 99.9)
# A percentile is "supported" when at least this many samples lie
# beyond it.
TAIL_SAMPLES = 10


def median(values):
    if not values:
        raise ValueError("median of an empty sample")
    return statistics.median(values)


def quartiles(values):
    """``(q1, q2, q3)`` as ``statistics.quantiles(values, n=4)`` gives
    them (the exclusive method); a single value is its own quartiles."""
    if not values:
        raise ValueError("quartiles of an empty sample")
    if len(values) == 1:
        v = values[0]
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def relative_spread(values):
    """Interquartile distance as a share of the median."""
    q1, _, q3 = quartiles(values)
    m = median(values)
    if m == 0:
        return 0.0 if q3 == q1 else math.inf
    return (q3 - q1) / abs(m)


def supported_percentile(n, tail=TAIL_SAMPLES):
    """Highest of :data:`PERCENTILES` with at least ``tail`` of ``n``
    samples beyond it, or None when even the median has fewer."""
    best = None
    for p in PERCENTILES:
        if n * (1.0 - p / 100.0) >= tail - 1e-9:
            best = p
    return best


def percentile(values, p):
    """Nearest-rank percentile (``p`` in (0, 100])."""
    if not values:
        raise ValueError("percentile of an empty sample")
    ordered = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(ordered)))
    return ordered[rank - 1]


def tail_summary(values):
    """Median plus the highest supported percentile, with the count."""
    p = supported_percentile(len(values))
    return {
        "n": len(values),
        "median": median(values),
        "percentile": p,
        "value": percentile(values, p) if p is not None else None,
    }


def self_times(spans):
    """Self time per span: its duration minus the part of its interval
    covered by its direct children (overlapping children count once).

    ``spans`` is a list of dicts with ``id``, ``parent``, ``start`` and
    ``end``; the result maps span id to seconds.
    """
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        covered = 0.0
        cur_lo = cur_hi = None
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
            a, b = max(lo, c["start"]), min(hi, c["end"])
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (hi - lo) - covered
    return out


class Ledger:
    """Operations attempted and failed (raised or gave wrong output)."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.failures = []

    def record(self, op, ok, detail=""):
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"{op}: {detail}" if detail else op)

    @property
    def failed_ratio(self):
        if self.attempted == 0:
            raise ValueError("no operations attempted")
        return self.failed / self.attempted
