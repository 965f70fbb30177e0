"""Arithmetic the benchmark reports: percentiles, geomeans, span self
time, tick-to-commit latency and generator lateness.

Pure Python on plain lists and dicts, so the unit tests in
``test_stats.py`` pin every number the benchmark prints without a
Spark session.
"""

from __future__ import annotations

import bisect
import math
from collections.abc import Iterable, Mapping, Sequence

TAIL_BEYOND = 10  # samples that must lie beyond the reported tail


def quantile(values: Sequence[float], q: float) -> float:
    """Linear-interpolated quantile (numpy's default "linear" rule)."""
    if not values:
        raise ValueError("quantile of no values")
    if not 0.0 <= q <= 1.0:
        raise ValueError(f"quantile {q} outside [0, 1]")
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: Sequence[float]) -> float:
    return quantile(values, 0.5)


def tail(values: Sequence[float], beyond: int = TAIL_BEYOND) -> dict:
    """Latency at the highest percentile that still has ``beyond``
    samples above it: with n samples that is the order statistic at
    rank n - beyond (1-based), i.e. percentile 100 * (n - beyond) / n.
    A sample too small to put that rank above the median supports no
    such tail; it reports its maximum instead (p100, none beyond), so
    the figure is never a copy of the median. The caller keeps ``pct``
    and ``beyond`` beside the value."""
    n = len(values)
    if n == 0:
        raise ValueError("tail of no values")
    xs = sorted(values)
    rank = n - beyond if 2 * (n - beyond) > n + 1 else n  # 1-based, above the median
    return {"value": xs[rank - 1], "pct": 100.0 * rank / n, "n": n, "beyond": n - rank}


def geomean(values: Iterable[float]) -> float:
    xs = list(values)
    if not xs:
        raise ValueError("geomean of no values")
    if min(xs) <= 0:
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def geomean_of_medians(by_type: Mapping[str, Sequence[float]]) -> float:
    """TPC-style: each query type's median latency, then their geomean,
    so one slow type cannot dominate the way it does a pooled p50."""
    return geomean(median(v) for v in by_type.values() if v)


def spread(values: Sequence[float]) -> float:
    """Inter-quartile range over the median, with the quartiles of
    ``statistics.quantiles(values, n=4)`` (the "exclusive" method)."""
    import statistics

    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


def self_times(spans: Sequence[Mapping]) -> dict[int, float]:
    """Self time per span id: the span's duration minus the part of its
    interval covered by the union of its direct children (children that
    overlap each other are not double-subtracted)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.get("parent") is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        covered = 0.0
        cur_lo = cur_hi = None
        for a, b in sorted(children.get(s["id"], [])):
            a, b = max(a, lo), min(b, hi)
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (hi - lo) - covered
    return out


def file_latencies(
    tick_file: Mapping[int, int],
    file_due: Mapping[int, float],
    tick_batch: Mapping[int, Sequence[int]],
    batch_commit: Mapping[int, float],
) -> dict[int, float]:
    """Join each tick to the commit of the predictions batch holding it,
    and report one latency per landed file.

    ``tick_file`` maps tick key -> the file it landed in; ``file_due``
    maps file -> the time the open-loop schedule said it was due (so a
    stalled generator's delay counts against the engine, as a user
    would see it); ``tick_batch`` maps tick key -> the batch ids whose
    output holds a prediction for it; ``batch_commit`` maps batch id ->
    commit time. A file lands atomically and the file source reads it
    whole into one batch, so its ticks share one latency: the file, not
    the tick, is the independent sample the percentile rule counts. A
    file's latency is its slowest tick's; a file with a tick predicted
    zero or several times, or in an uncommitted batch, has none (those
    ticks fail the correctness check)."""
    out: dict[int, float] = {}
    bad: set[int] = set()
    for key, f in tick_file.items():
        batches = tick_batch.get(key, ())
        if len(batches) != 1 or batches[0] not in batch_commit:
            bad.add(f)
            continue
        out[f] = max(out.get(f, -math.inf), batch_commit[batches[0]] - file_due[f])
    return {f: v for f, v in out.items() if f not in bad}


def generator_lateness(due: Sequence[float], landed: Sequence[float]) -> dict:
    """How late an open-loop generator ran: per file, landing time minus
    due time (never negative: a file is not landed before it is due)."""
    late = [max(0.0, b - a) for a, b in zip(due, landed, strict=True)]
    if not late:
        return {"max_s": 0.0, "p50_s": 0.0}
    return {"max_s": max(late), "p50_s": median(late)}


def max_lag(landed: Sequence[float], committed: Sequence[float]) -> int:
    """Most files landed but not yet committed, over every instant at
    which a file landed. ``committed`` is each file's commit time (inf
    when never committed)."""
    done = sorted(committed)
    worst = 0
    for i, t in enumerate(sorted(landed)):
        worst = max(worst, (i + 1) - bisect.bisect_right(done, t))
    return worst
