"""Pure helpers: percentiles, span self time, stage attribution and
order-insensitive result hashing. No Spark imports, so they are unit
tested on their own (perfbench/tests)."""

from __future__ import annotations

import datetime
import hashlib
import math
from dataclasses import dataclass, field


def median(values: list[float]) -> float:
    s = sorted(values)
    n = len(s)
    if n == 0:
        raise ValueError("median of no values")
    mid = n // 2
    return s[mid] if n % 2 else (s[mid - 1] + s[mid]) / 2


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile, q in (0, 100]."""
    s = sorted(values)
    if not s:
        raise ValueError("percentile of no values")
    rank = max(1, math.ceil(q / 100.0 * len(s)))
    return s[rank - 1]


def mix_rates(ops: list[tuple[str, float]]) -> tuple[float, float]:
    """(p50 latency, operations per second) of a mix in which every
    label has the same weight, from (label, latency) samples.

    The p50 is the median over labels of each label's median latency,
    and the rate is labels / (sum of each label's mean latency): one
    whole round of the mix per that many seconds. A window that ends
    part-way through a round then does not tilt either figure towards
    the labels that happened to run one more time.
    """
    by_label: dict[str, list[float]] = {}
    for label, latency in ops:
        by_label.setdefault(label, []).append(latency)
    p50 = median([median(v) for v in by_label.values()])
    round_s = sum(sum(v) / len(v) for v in by_label.values())
    return p50, len(by_label) / round_s


def paired_overhead(
    traced: list[tuple[str, float]], untraced: list[tuple[str, float]]
) -> tuple[float, float]:
    """(traced p50, untraced p50) over the labels that ran both ways, by
    ``mix_rates``; their difference is the tracing overhead. Labels that
    ran only one way are left out, so a mix compares like with like."""
    both = {label for label, _ in traced} & {label for label, _ in untraced}
    if not both:
        raise ValueError("no label ran both traced and untraced")
    return (
        mix_rates([(lb, x) for lb, x in traced if lb in both])[0],
        mix_rates([(lb, x) for lb, x in untraced if lb in both])[0],
    )


def tail_percentile(n: int, beyond: int = 10) -> int | None:
    """The highest whole percentile that leaves at least ``beyond``
    samples above it, or None when n is too small for any (a timing is
    reported as a median plus this percentile, with its sample count)."""
    best = None
    for q in range(50, 100):
        rank = max(1, math.ceil(q / 100.0 * n))
        if n - rank >= beyond:
            best = q
    return best


@dataclass
class Span:
    """One timed call at a layer boundary. Times are seconds on the
    epoch clock so they can be matched with Spark's stage timestamps."""

    sid: int
    name: str
    start: float
    end: float
    parent: int | None = None
    op: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for sp in spans:
        if sp.parent is not None:
            children.setdefault(sp.parent, []).append((sp.start, sp.end))
    return {
        sp.sid: sp.duration - _covered(children.get(sp.sid, []), sp.start, sp.end)
        for sp in spans
    }


def attribute(spans: list[Span], t: float) -> Span | None:
    """The innermost span open at time t (the latest-starting one that
    contains t), or None when no span was open."""
    best = None
    for sp in spans:
        if sp.start <= t <= sp.end and (best is None or sp.start >= best.start):
            best = sp
    return best


def _norm(v):
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ", timespec="microseconds")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.9g}"
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((str(k), _norm(x)) for k, x in v.items()))
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if hasattr(v, "__float__") and not isinstance(v, (int, bool)):
        return _norm(float(v))  # Decimal
    return v


def result_hash(cols: list[str], rows: list[tuple]) -> str:
    """Order-insensitive hash of a result: columns are sorted by name,
    values normalized (floats to 9 significant digits), rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(repr(tuple(_norm(r[i]) for i in order)) for r in rows)
    h = hashlib.sha256(repr(sorted(cols)).encode())
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return f"{len(rows)}:{h.hexdigest()}"
