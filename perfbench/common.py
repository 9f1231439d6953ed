"""What the run harness hands a workload and gets back from it."""

from __future__ import annotations

import os
import statistics
import time

class Context:
    """What a workload gets: the session, its seed and run length, a
    private work directory, and the tracer (None when untraced)."""

    def __init__(self, spark, seed, seconds, work, tracer, ledger, t_start):
        self.spark = spark
        self.t_start = t_start
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.tracer = tracer
        self.ledger = ledger
        self._n = 0

    def path(self, name: str) -> str:
        """A fresh path under the work directory."""
        self._n += 1
        return os.path.join(self.work, f"{name}-{self._n}")

    def setup_seconds(self) -> float:
        """Time from process start to now, the first timed operation."""
        return time.perf_counter() - self.t_start

    def timed(self, fn, *args, **kwargs):
        """Call fn, returning (result, seconds); the traced run also reads
        Spark's counters around the call."""
        self.ledger.start()
        t = time.perf_counter()
        out = fn(*args, **kwargs)
        dt = time.perf_counter() - t
        self.ledger.stop()
        return out, dt


class Result:
    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.e2e: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.info: dict[str, tuple[float, str]] = {}
        self.setup_s = 0.0


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def percentile(xs, q: float) -> float:
    """Nearest-rank percentile (q in 0..100); 0 for no samples."""
    if not xs:
        return 0.0
    s = sorted(xs)
    return float(s[min(len(s) - 1, max(0, int(-(-q * len(s) // 100)) - 1))])


def rounds(seconds: float, timed: int):
    """Yield, per round, whether it is timed. The first `timed` rounds
    always run and are the only ones the metrics come from, so every run
    measures the same operations however fast the host is. Whole rounds
    then go on, checked but not measured, until `seconds` have passed."""
    t0 = time.perf_counter()
    n = 0
    while n < timed or time.perf_counter() - t0 < seconds:
        yield n < timed
        n += 1
