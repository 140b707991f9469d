"""Small arithmetic shared by the benchmark: percentiles, guarded ratios and
the failed-operation ledger behind ``failed_frac``."""

from __future__ import annotations

import math
from collections.abc import Sequence


def percentile(values: Sequence[float], q: float) -> float:
    """Linear-interpolated percentile (numpy's default), ``q`` in [0, 100].

    An empty input has no percentile; it raises rather than invent a value.
    """
    if not values:
        raise ValueError("percentile of an empty sequence")
    if not 0 <= q <= 100:
        raise ValueError(f"q={q} outside [0, 100]")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: Sequence[float]) -> float:
    return percentile(values, 50)


def ratio(num: float, den: float) -> float:
    """``num / den``; 0.0 when the base is 0, so a layer with no work reads
    0 instead of failing the run."""
    return num / den if den else 0.0


class FailureLedger:
    """Attempted and failed operations of one run, with the reasons.

    An operation is one extracted turn or one query evaluation. Each check
    adds what it attempted and what failed; a failure is never subtracted.
    """

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.reasons: list[str] = []

    def add(self, attempted: int, failed: int = 0, reason: str = "") -> None:
        if attempted < 0 or failed < 0 or failed > attempted:
            raise ValueError(f"bad counts: {failed} failed of {attempted}")
        self.attempted += attempted
        self.failed += failed
        if failed:
            self.reasons.append(f"{failed}/{attempted} {reason}".strip())

    @property
    def failed_frac(self) -> float:
        return ratio(self.failed, self.attempted)

    @property
    def correct(self) -> bool:
        return self.attempted > 0 and self.failed == 0
