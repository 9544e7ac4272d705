"""Spark-free helpers of the benchmark: statistics, spans, query order,
failure counting and the regression-bound check.

Kept apart from the Spark driver code so the tests can exercise them
without starting a JVM.
"""

from __future__ import annotations

import json
import random
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no values")
    return statistics.median(values)


def quartiles(values: list[float]) -> tuple[float, float]:
    """First and third quartile, as ``statistics.quantiles(n=4)``
    (exclusive method) gives them."""
    if len(values) < 2:
        raise ValueError("quartiles need at least two values")
    q1, _, q3 = statistics.quantiles(values, n=4)
    return q1, q3


def spread(values: list[float]) -> float:
    """Interquartile distance as a share of the median."""
    q1, q3 = quartiles(values)
    return (q3 - q1) / median(values)


def regression(parent: float, change: float, better: str) -> float:
    """How much worse ``change`` is than ``parent``, as a share of
    ``parent``; negative when it is better."""
    if better not in ("lower", "higher"):
        raise ValueError(f"better must be 'lower' or 'higher', got {better!r}")
    delta = change - parent if better == "lower" else parent - change
    return delta / parent


def within_bound(parent: float, change: float, better: str, bound: float) -> bool:
    """True unless ``change`` is worse than ``parent`` by more than
    ``bound`` (a share of ``parent``)."""
    return regression(parent, change, better) <= bound


def query_order(queries: list[str], seed: int, pass_no: int) -> list[str]:
    """The order in which pass ``pass_no`` of a run with ``seed`` runs
    its queries: a permutation that depends only on both numbers."""
    return random.Random(f"{seed}:{pass_no}").sample(queries, len(queries))


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    counts: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory spans (name, start, end, parent); written out once at
    the end of a run."""

    def __init__(self) -> None:
        self.spans: list[Span] = []

    def add(self, name: str, start: float, end: float,
            parent: int | None = None, **counts) -> int:
        self.spans.append(Span(len(self.spans), name, start, end, parent, counts))
        return len(self.spans) - 1

    @contextmanager
    def span(self, name: str, parent: int | None = None):
        """Record the enclosed block as a span; yields its id. The end
        time is filled in when the block exits, even by an exception."""
        sid = self.add(name, time.perf_counter(), float("nan"), parent)
        try:
            yield sid
        finally:
            self.spans[sid].end = time.perf_counter()

    def children(self, sid: int) -> list[Span]:
        return [s for s in self.spans if s.parent == sid]

    def self_time(self, sid: int) -> float:
        """The span's duration minus the part of its interval that its
        child spans cover."""
        span = self.spans[sid]
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(
            (max(c.start, span.start), min(c.end, span.end))
            for c in self.children(sid)
        ):
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        return span.duration - covered

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([s.__dict__ for s in self.spans], fh)


@dataclass
class Tally:
    """Operations attempted and failed (raised, or wrong result)."""

    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)

    def attempt(self, label: str, fn):
        """Run ``fn``; count it, and count it failed if it raises.
        Returns ``(ok, result)``."""
        self.attempted += 1
        try:
            return True, fn()
        except Exception as exc:  # every query failure is a counted outcome
            self.fail(f"{label}: {type(exc).__name__}: {exc}")
            return False, None

    def fail(self, message: str) -> None:
        self.failed += 1
        self.errors.append(message[:500])

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0
