"""The benchmark's own arithmetic, kept free of Spark so it can be tested
on its own (see test_stats.py)."""

from __future__ import annotations

# Percentiles a tail latency may be reported at, lowest first.
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
MIN_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    rank = p / 100.0 * (len(xs) - 1)
    lo = int(rank)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (rank - lo)


def tail_level(n: int, ladder=TAIL_LADDER, min_beyond: int = MIN_BEYOND) -> float:
    """Highest percentile of ``ladder`` with at least ``min_beyond`` of
    ``n`` samples beyond it. Below ``2 * min_beyond`` samples no level
    qualifies and the median is used, so the tail never claims more
    than the samples support."""
    best = ladder[0]
    for p in ladder:
        if round(n * (100.0 - p) / 100.0, 9) >= min_beyond:  # 100 * (1 - 0.9) < 10
            best = p
    return best


def tail(values: list[float]) -> tuple[float, float]:
    """(level, value) of the tail latency under the ``tail_level`` rule."""
    level = tail_level(len(values))
    return level, percentile(values, level)


def self_times(spans) -> dict[int, float]:
    """Self time of each span: its duration minus the part of its
    interval that its direct children cover. ``spans`` yields objects
    with ``id``, ``parent``, ``start`` and ``end``; children running in
    parallel are merged, not double-subtracted."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out = {}
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for lo, hi in sorted(children.get(s.id, [])):
            lo, hi = max(lo, s.start), min(hi, s.end)
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


def space_amp(bytes_on_disk: int, live_bytes: int) -> float:
    """Bytes under a table directory per byte of its live data files."""
    if live_bytes <= 0:
        raise ValueError("a table with no live bytes has no space amplification")
    return bytes_on_disk / live_bytes


def fail_ratio(failed: int, attempted: int) -> float:
    """Errored or wrong-output operations over operations attempted."""
    if attempted <= 0:
        raise ValueError("no operations attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, attempted={attempted}]")
    return failed / attempted
