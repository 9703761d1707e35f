"""Summary statistics and span arithmetic for the pipeline benchmark.

Pure Python, no Spark: everything here is unit-tested in
``pipebench/tests/test_stats.py``.
"""

from __future__ import annotations

import statistics

# Percentiles a timing may be reported at beyond the median.  One is
# reported only when at least ``TAIL_MIN_BEYOND`` samples lie above it,
# so a tail figure never rests on one or two slow ops.
TAIL_PERCENTILES = (75.0, 90.0, 95.0, 99.0)
TAIL_MIN_BEYOND = 10


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives
    them (the 'exclusive' method).  Needs at least two samples."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values: list[float]) -> float:
    """Inter-quartile distance as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (``p`` in [0, 100]) of the samples."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    rank = max(1, -(-len(ordered) * p // 100))  # ceil(n * p / 100)
    return ordered[int(rank) - 1]


def tail_percentile(n: int) -> float | None:
    """The highest percentile in ``TAIL_PERCENTILES`` with at least
    ``TAIL_MIN_BEYOND`` of ``n`` samples beyond it, or None."""
    best = None
    for p in TAIL_PERCENTILES:
        if n * (100.0 - p) / 100.0 >= TAIL_MIN_BEYOND:
            best = p
    return best


def failed_frac(attempted: int, failed: int) -> float:
    """Ops that raised or failed the oracle over ops attempted."""
    if attempted < 1:
        raise ValueError("no ops attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, {attempted}]")
    return failed / attempted


def in_ref_units(op_s: list[float], ref_s: list[float], turns: list[int]) -> tuple[float, float]:
    """(turns per reference, median op time in references) of timed ops:
    op ``k`` took ``op_s[k]`` seconds for ``turns[k]`` turns, right
    after a reference job that took ``ref_s[k]`` seconds.  Each op's
    time is read in units of its own reference, so a host that slows
    both alike leaves the figures where they were."""
    if not (len(op_s) == len(ref_s) == len(turns)) or not op_s:
        raise ValueError("need one reference time and turn count per op")
    rel = [s / r for s, r in zip(op_s, ref_s)]
    return sum(turns) / sum(rel), median(rel)


def spans_on(n: int) -> bool:
    """Whether timed op ``n`` of a traced run records spans.  Ops go in
    blocks of four, on-off-off-on: a drift through the run that is
    linear in the op count (output tables that grow) falls on both
    halves of a block alike."""
    return n % 4 in (0, 3)


def block_overhead(op_s: dict[int, float]) -> float:
    """Span overhead: median over complete blocks of four ops (``op_s``
    maps a timed op's index to its seconds) of the mean spans-on op
    time minus the mean spans-off op time.  Blocks missing an op, such
    as one that failed, are left out."""
    diffs = []
    for b in sorted({n // 4 for n in op_s}):
        block = [op_s.get(4 * b + j) for j in range(4)]
        if None not in block:
            diffs.append((block[0] + block[3] - block[1] - block[2]) / 2)
    return median(diffs)


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total = 0.0
    end = None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time per span id: its duration minus the part of its
    interval that its direct children cover (children clipped to the
    parent's interval, overlaps between children counted once).

    Each span is a dict with ``id``, ``parent`` (an id or None),
    ``start`` and ``end``."""
    by_id = {s["id"]: s for s in spans}
    children: dict[int, list[tuple[float, float]]] = {i: [] for i in by_id}
    for s in spans:
        p = s["parent"]
        if p is not None and p in by_id:
            ps = by_id[p]
            a, b = max(s["start"], ps["start"]), min(s["end"], ps["end"])
            if b > a:
                children[p].append((a, b))
    return {
        i: (s["end"] - s["start"]) - union_length(children[i])
        for i, s in by_id.items()
    }


def coverage(spans: list[dict], root_name: str) -> float:
    """Share of the summed duration of ``root_name`` spans that their
    child spans cover."""
    selfs = self_times(spans)
    roots = [s for s in spans if s["name"] == root_name]
    total = sum(s["end"] - s["start"] for s in roots)
    if total <= 0:
        raise ValueError(f"no time under {root_name!r} spans")
    return 1.0 - sum(selfs[s["id"]] for s in roots) / total


def prefix_self_times(prefix_s: dict[str, float], order: list[str]) -> dict[str, float]:
    """Self time of each stage from the wall times of plan prefixes:
    ``prefix_s[order[k]]`` is the time of the plan that ends with stage
    ``order[k]``; a stage's self time is its prefix minus the previous
    one (the first stage's self time is its whole prefix)."""
    out = {}
    prev = 0.0
    for name in order:
        out[name] = prefix_s[name] - prev
        prev = prefix_s[name]
    return out
