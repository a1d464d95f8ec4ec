"""Small statistics helpers: percentiles, the supported tail, span self time."""

from __future__ import annotations

import math
from collections.abc import Sequence


def percentile(values: Sequence[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 1] (numpy's default)."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: Sequence[float]) -> float:
    return percentile(values, 0.5)


def supported_tail(n: int, beyond: int = 10) -> float | None:
    """Highest of p99/p90/p50 that leaves at least ``beyond`` of ``n``
    samples above it, or None when not even the median qualifies."""
    for q in (0.99, 0.9, 0.5):
        if n * (1 - q) >= beyond - 1e-9:
            return q
    return None


def halves_drift(samples: Sequence[float], keys: Sequence[str] | None = None) -> float | None:
    """Warm-up trend left in a measured window: the median of the second
    half of the samples over the median of the first half, minus one.
    With ``keys`` (samples of different operations) the halves are
    taken per key, over keys timed at least twice, and the median of
    the per-key ratios is returned."""
    if keys is None:
        if len(samples) < 2:
            return None
        h = len(samples) // 2
        first, second = median(samples[:h]), median(samples[len(samples) - h:])
        return second / first - 1 if first else None
    by_key: dict[str, list[float]] = {}
    for k, s in zip(keys, samples):
        by_key.setdefault(k, []).append(s)
    ratios = [d for d in (halves_drift(v) for v in by_key.values() if len(v) >= 2) if d is not None]
    return median(ratios) if ratios else None


def self_times(spans: Sequence[dict]) -> dict[int, float]:
    """Span id -> its duration minus the part of it its children cover.

    Each span is ``{"id", "parent", "start", "end"}``; children's
    intervals are clipped to the parent and merged before subtracting,
    so overlapping children are not counted twice."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.get("parent") is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(children.get(s["id"], [])):
            lo, hi = max(lo, s["start"]), min(hi, s["end"])
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
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def layer_self_times(spans: Sequence[dict]) -> dict[str, float]:
    """Layer -> summed self time of its spans."""
    st = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s["layer"]] = out.get(s["layer"], 0.0) + st[s["id"]]
    return out
