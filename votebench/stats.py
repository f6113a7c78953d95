"""Pure helpers of the benchmark: no Spark, no clock, no I/O, so each is
unit tested on its own (votebench/tests/test_stats.py)."""

from __future__ import annotations

import math
import statistics
from dataclasses import dataclass

#: A percentile is reported only when at least this many samples lie
#: beyond it; a thinner tail is one or two outliers, not a percentile.
MIN_BEYOND = 10


def percentile(values: "list[float]", q: float) -> "float | None":
    """The ``q``-th percentile (0 < q < 100) by linear interpolation, or
    None when fewer than ``MIN_BEYOND`` samples lie beyond it, i.e. when
    ``len(values) * (1 - q/100) < MIN_BEYOND``: p50 needs 20 samples,
    p95 needs 200."""
    n = len(values)
    if not 0 < q < 100 or n * (100 - q) < MIN_BEYOND * 100:
        return None
    xs = sorted(values)
    pos = (n - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, n - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: "list[float]") -> "float | None":
    """Plain median for small per-run series (a median of several set-ups
    or drains), which the percentile rule does not cover."""
    return statistics.median(values) if values else None


@dataclass(frozen=True)
class Batch:
    """One micro-batch of one streaming query, from its progress record."""

    batch_id: int
    rows: int
    start_s: float
    end_s: float


def attribute_chunks(
    chunk_rows: "list[int]", batches: "list[Batch]"
) -> "list[Batch | None]":
    """Map each chunk, in the order it was written, to the micro-batch that
    read it, from row counts alone.

    The file source hands whole files to a batch in arrival order, so the
    batch that holds chunk ``j`` is the first whose cumulative input rows
    reach the cumulative rows of chunks ``0..j``. A batch may hold several
    chunks; an empty batch (a watermark-only trigger) holds none. A chunk
    past the last batch's cumulative count was never read: None."""
    out: "list[Batch | None]" = []
    ordered = sorted(batches, key=lambda b: b.batch_id)
    b, seen = 0, 0
    need = 0
    for rows in chunk_rows:
        need += rows
        while b < len(ordered) and seen + ordered[b].rows < need:
            seen += ordered[b].rows
            b += 1
        out.append(ordered[b] if b < len(ordered) else None)
    return out


def error_rate(attempted: int, failed: int) -> float:
    """Failed operations over attempted ones; attempting nothing is itself
    an error, never a clean 0."""
    if attempted <= 0:
        raise ValueError("error_rate of a run that attempted nothing")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside 0..attempted={attempted}")
    return failed / attempted


@dataclass(frozen=True)
class Span:
    """One traced call: ``parent`` is the id of the span that caused it,
    ``request`` the query execution, chunk or refresh it served."""

    id: int
    name: str
    start: float
    end: float
    parent: "int | None"
    request: "str | None"


def self_times(spans: "list[Span]") -> "dict[int, float]":
    """Each span's duration minus the part of its interval its children
    cover (children may overlap one another; the union is subtracted)."""
    children: "dict[int, list[Span]]" = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(children.get(s.id, ()), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
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
        out[s.id] = (s.end - s.start) - covered
    return out


def layer_self_ms(spans: "list[Span]") -> "dict[str, float]":
    """Self time summed per span name, in ms."""
    st = self_times(spans)
    out: "dict[str, float]" = {}
    for s in spans:
        out[s.name] = out.get(s.name, 0.0) + st[s.id] * 1000.0
    return out


def climbing(values: "list[float]", min_rise: float) -> bool:
    """True when the last third of a series sits above its first third by
    more than ``min_rise`` (medians): a backlog growing over the run, which
    a whole-run percentile would hide."""
    k = len(values) // 3
    if k < 3:
        return False
    return statistics.median(values[-k:]) - statistics.median(values[:k]) > min_rise
