"""Order statistics, failure accounting and metric-name rules.

Pure Python (no Spark, no NumPy) so the benchmark's own tests run
anywhere in milliseconds.
"""

from __future__ import annotations

import re
import statistics

_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def valid_name(name: str) -> bool:
    """A metric or workload name: starts with a letter or digit, at most
    64 characters from ``[A-Za-z0-9_.-]``."""
    return bool(_NAME.fullmatch(name))


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(Q1, median, Q3) as ``statistics.quantiles(values, n=4)`` gives them."""
    if len(values) < 2:
        raise ValueError("quartiles need at least two samples")
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values: list[float]) -> float:
    """Inter-quartile distance as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (``q`` in [0, 100]) over sorted
    samples, the 'inclusive' definition: p0 is the minimum, p100 the
    maximum."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0 <= q <= 100:
        raise ValueError(f"percentile out of range: {q}")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def samples_beyond(n: int, q: float) -> int:
    """How many of ``n`` samples lie strictly above the ``q``-th
    percentile position."""
    return n - 1 - int((n - 1) * q / 100)


def resolved_percentile(values: list[float], q: float, beyond: int = 10) -> float:
    """The ``q``-th percentile, refusing one with fewer than ``beyond``
    samples above it: such a tail value is one or two samples' noise."""
    if samples_beyond(len(values), q) < beyond:
        raise ValueError(f"p{q:g} of {len(values)} samples has fewer than {beyond} beyond it")
    return percentile(values, q)


class Tally:
    """Attempted / failed op counts; a failed correctness check is a
    failed op, and so is an op that raised."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def record(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)
        return ok

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0
