"""Summary statistics of the benchmark output."""

from __future__ import annotations

import math
import statistics

#: a tail percentile is reported only with this many samples beyond it
MIN_BEYOND = 10


def min_samples(q: int) -> int:
    """Fewest samples for which percentile ``q`` has ``MIN_BEYOND`` samples
    strictly above it (p90 needs 100, the median needs 20)."""
    return math.ceil(MIN_BEYOND / (1.0 - q / 100.0) - 1e-9)


def percentile(values: list[float], q: int) -> float:
    """The ``q``-th percentile (1 <= q <= 99) by linear interpolation
    between closest ranks.  Raises ``ValueError`` when fewer than
    ``MIN_BEYOND`` samples lie beyond it: a tail figure resting on a handful
    of samples is noise."""
    if len(values) < min_samples(q):
        raise ValueError(f"p{q} needs {min_samples(q)} samples, got {len(values)}")
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def failed_frac(attempted: int, failed: int) -> float:
    if attempted < 1 or not 0 <= failed <= attempted:
        raise ValueError(f"bad counts: attempted={attempted} failed={failed}")
    return failed / attempted


class OpTally:
    """Attempted and failed op executions.  An execution fails when it
    raises, times out, or belongs to an op whose output check failed."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def record(self, raised: bool, check_failed: bool) -> None:
        self.attempted += 1
        self.failed += int(raised or check_failed)

    @property
    def failed_frac(self) -> float:
        return failed_frac(self.attempted, self.failed)
