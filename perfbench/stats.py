"""Summary statistics and failure accounting for benchmark runs."""

from __future__ import annotations

import statistics

# A percentile is reported only when at least this many samples lie
# beyond it.
MIN_TAIL = 10


def percentile(values: list[float], pct: int) -> float:
    """The ``pct``-th percentile by ``statistics.quantiles`` (exclusive
    method), for 1 <= pct <= 99."""
    if not 1 <= pct <= 99:
        raise ValueError(f"percentile out of range: {pct}")
    if len(values) < 2:
        raise ValueError("need at least two samples")
    return statistics.quantiles(values, n=100)[pct - 1]


def beyond(values: list[float], threshold: float) -> int:
    return sum(1 for v in values if v > threshold)


def min_samples(pct: int, tail: int = MIN_TAIL) -> int:
    """Smallest sample count whose ``pct``-th percentile can have
    ``tail`` samples beyond it: ``n * (1 - pct/100) >= tail``."""
    return -(-tail * 100 // (100 - pct))


def latency_summary(values_ms: list[float], pct: int = 90) -> dict:
    """Median and ``pct``-th percentile with the sample counts behind
    them; ``tail_ok`` is false when fewer than ``MIN_TAIL`` samples lie
    beyond the percentile."""
    p = percentile(values_ms, pct)
    n_beyond = beyond(values_ms, p)
    return {
        "p50": statistics.median(values_ms),
        f"p{pct}": p,
        "samples": len(values_ms),
        f"beyond_p{pct}": n_beyond,
        "tail_ok": n_beyond >= MIN_TAIL,
    }


class Tally:
    """Attempted and failed operations of one run.

    Every timed execution is one attempt. An execution fails when it
    raises or when any check on it fails; it counts once however many
    of its checks fail.
    """

    def __init__(self) -> None:
        self.attempted = 0
        self.failures: dict[int, list[str]] = {}

    def attempt(self) -> int:
        """Register one execution; returns its id for later checks."""
        self.attempted += 1
        return self.attempted

    def fail(self, op_id: int, reason: str) -> None:
        if not 1 <= op_id <= self.attempted:
            raise ValueError(f"unknown operation id {op_id}")
        self.failures.setdefault(op_id, []).append(reason)

    def check(self, op_id: int, ok: bool, reason: str) -> bool:
        if not ok:
            self.fail(op_id, reason)
        return ok

    @property
    def failed(self) -> int:
        return len(self.failures)

    @property
    def fail_ratio(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0
