"""Summaries of repeated measurements: medians with their sample counts."""

from __future__ import annotations

import math
import statistics


def median(xs) -> float:
    xs = list(xs)
    if not xs:
        raise ValueError("median of no samples")
    return float(statistics.median(xs))


def geomean(xs) -> float:
    xs = list(xs)
    if not xs or min(xs) <= 0:
        raise ValueError("geomean needs positive samples")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def tail_percentile(n: int) -> int | None:
    """The highest whole percentile with at least ten samples above it, or
    None when there are too few samples for any percentile above the
    median to mean something."""
    for p in (99, 95, 90, 75):
        if n * (100 - p) / 100.0 >= 10:
            return p
    return None


def percentile(xs, p: float) -> float:
    """Nearest-rank percentile."""
    xs = sorted(xs)
    if not xs:
        raise ValueError("percentile of no samples")
    k = max(0, math.ceil(p / 100.0 * len(xs)) - 1)
    return float(xs[k])


def summary(xs) -> dict:
    """{"p50", "n"} and, when enough samples exist, the tail percentile."""
    xs = list(xs)
    out = {"p50": median(xs), "n": len(xs)}
    p = tail_percentile(len(xs))
    if p is not None:
        out[f"p{p}"] = percentile(xs, p)
    return out


def fmt_summary(name: str, unit: str, xs) -> str:
    s = summary(xs)
    tail = "".join(f" {k}={v:.6g}" for k, v in s.items()
                   if k not in ("p50", "n"))
    return f"{name}: p50={s['p50']:.6g} {unit} (n={s['n']}{tail})"
