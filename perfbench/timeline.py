"""Streaming transaction timeline and the statistics taken from it.

One transaction is one micro-batch epoch. Its progress event (published
after the sink commit) carries the trigger start time, the committed row
count and the per-phase durations; the commit time is the start plus the
``triggerExecution`` duration.
"""

from __future__ import annotations

import math
import statistics
from dataclasses import dataclass
from datetime import datetime

PHASES = ("addBatch", "walCommit", "commitOffsets", "queryPlanning", "latestOffset")


@dataclass(frozen=True)
class Txn:
    batch_id: int
    rows: int
    start: float  # trigger start, epoch seconds
    durations: dict  # phase -> ms

    @property
    def latency_ms(self) -> float:
        return float(self.durations.get("triggerExecution", 0))

    @property
    def commit(self) -> float:
        return self.start + self.latency_ms / 1000.0


def _epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def txn_from_progress(p: dict) -> Txn:
    """Build a transaction from a ``StreamingQueryProgress`` JSON dict."""
    return Txn(
        batch_id=int(p["batchId"]),
        rows=int(p.get("numInputRows") or 0),
        start=_epoch(p["timestamp"]),
        durations=dict(p.get("durationMs") or {}),
    )


def timeline(progress: list[dict]) -> list[Txn]:
    """Committed data transactions in batch order, one per batch id."""
    by_id = {}
    for p in progress:
        t = txn_from_progress(p)
        if t.rows:
            by_id[t.batch_id] = t
    return [by_id[k] for k in sorted(by_id)]


def steady_window(
    txns: list[Txn], warm: int, seconds: float = math.inf
) -> list[Txn]:
    """Drop the first ``warm`` transactions, which carry one-time
    compilation costs while the JIT warms up, and keep those that start
    within ``seconds`` of the first one kept. The warm-up is a count, not a
    time, so every run's window starts at the same point of the warm-up
    whatever the host's pace."""
    kept = txns[warm:]
    return [t for t in kept if t.start < kept[0].start + seconds] if kept else []


def steady_rate(window: list[Txn]) -> float:
    """Committed rows per second between the first and the last commit of
    the window: the rows of every transaction after the first, over the
    time between their commits. Needs at least two transactions."""
    if len(window) < 2:
        raise ValueError("steady rate needs at least two transactions")
    span = window[-1].commit - window[0].commit
    if span <= 0:
        raise ValueError("non-increasing commit times")
    return sum(t.rows for t in window[1:]) / span


def trigger_gaps_ms(window: list[Txn]) -> list[float]:
    """Time from each commit to the start of the next trigger."""
    return [
        (b.start - a.commit) * 1000.0 for a, b in zip(window, window[1:])
    ]


def percentile_rank(n: int, q: float) -> int:
    """1-based nearest rank of the ``q`` percentile among ``n`` samples
    (rounded first, so 0.9 x 100 is rank 90, not 91)."""
    return max(1, math.ceil(round(q * n, 9)))


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least a share
    ``q`` of the samples at or below it."""
    return sorted(values)[percentile_rank(len(values), q) - 1]


def tail_percentile(
    values: list[float], cap: float = 0.9, beyond: int = 10
) -> tuple[float, float] | None:
    """The highest nearest-rank percentile, at most ``cap``, that leaves at
    least ``beyond`` samples above its rank. Returns (q, value) with
    ``percentile(values, q) == value``, or None when the sample is too
    small to leave ``beyond`` samples above the median: a percentile below
    it is no tail."""
    n = len(values)
    cap_rank = percentile_rank(n, cap)
    rank = min(cap_rank, n - beyond)
    if rank < 1 or rank < percentile_rank(n, 0.5):
        return None
    return (cap if rank == cap_rank else rank / n), sorted(values)[rank - 1]


def phase_p50(window: list[Txn], phase: str) -> float:
    return float(statistics.median(t.durations.get(phase, 0) for t in window))
