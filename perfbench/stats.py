"""Latency summaries: median and the tail-percentile rule."""

from __future__ import annotations

import math
import statistics

# Candidate tail percentiles, highest last. The tail reported is the
# highest of these with at least TAIL_MIN_ABOVE samples above it.
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
TAIL_MIN_ABOVE = 10


def percentile(samples: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    if not samples:
        raise ValueError("percentile of no samples")
    xs = sorted(samples)
    return xs[_rank(p, len(xs)) - 1]


def _rank(p: float, n: int) -> int:
    """1-based nearest rank; rounding first keeps 99.9% of 10000 at
    9990 rather than the float product's 9990.000000000002."""
    return max(1, math.ceil(round(p / 100.0 * n, 6)))


def tail_percentile(n: int) -> float | None:
    """Highest ladder percentile whose nearest-rank value has at least
    ``TAIL_MIN_ABOVE`` samples above it, or None if even the median
    has fewer (n < 2 * TAIL_MIN_ABOVE)."""
    best = None
    for p in TAIL_LADDER:
        if n - _rank(p, n) >= TAIL_MIN_ABOVE:
            best = p
    return best


def tail(samples: list[float]) -> tuple[float | None, float | None, int]:
    """``(percentile, value, sample count)`` under the tail rule."""
    p = tail_percentile(len(samples))
    return p, (percentile(samples, p) if p is not None else None), len(samples)


def median(samples: list[float]) -> float:
    return statistics.median(samples)


def tail_metric(name: str, samples: list[float]) -> dict:
    """``{"<name>(p<P>,n=<N>)": (value, "ms")}`` for a report line."""
    p, v, n = tail(samples)
    label = f"p{p:g}" if p is not None else "none"
    return {f"{name}({label},n={n})": (v, "ms")}


def mix_p50(ops, weights: dict[str, float] | None = None) -> float:
    """Mix-weighted median latency (ms) of successful operations: the
    median of each operation kind, weighted by the kind's share of the
    workload's stream (``weights``; equal shares when None).

    A plain median over a mix of kinds lands on whichever kind straddles
    the 50% rank, which jumps between kinds as a short window's mix
    wobbles; per-kind medians do not."""
    return _mix(ops, weights, median)


def mix_throughput(ops, clients: int, weights: dict[str, float] | None = None) -> float:
    """Operations per second of ``clients`` closed-loop clients issuing
    the mix (Little's law: clients / mix-weighted mean latency).

    Counting the operations that end inside the window instead jumps by
    a whole operation with where the deadline falls in the mix: a 10 s
    window of 0.3-3 s curation steps held 6 or 7 of them, 15% apart."""
    return clients * 1e3 / _mix(ops, weights, statistics.fmean)


def _mix(ops, weights, summary) -> float:
    by_kind: dict[str, list[float]] = {}
    for o in ops:
        if o.ok:
            by_kind.setdefault(o.kind, []).append(o.ms)
    if not by_kind:
        raise ValueError("no successful operation")
    w = {k: (weights or {}).get(k, 1.0) for k in by_kind}
    return sum(w[k] * summary(xs) for k, xs in by_kind.items()) / sum(w.values())
