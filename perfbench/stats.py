"""Pure math behind the benchmark's figures (no Spark, no I/O).

Kept apart from the harness so ``test_stats.py`` can pin every rule
the published numbers depend on: the percentile and tail rule, span
self time, job-group aggregation and the bytes-per-input ratios.
"""

from __future__ import annotations

import statistics

# Candidate tail percentiles, lowest first. The tail reported is the
# highest of these with at least TAIL_MIN_BEYOND samples above it.
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
TAIL_MIN_BEYOND = 10
TAIL_MIN_SAMPLES = 20


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int) -> float | None:
    """Highest ladder percentile with at least ``TAIL_MIN_BEYOND`` of
    ``n`` samples beyond it; None below ``TAIL_MIN_SAMPLES`` samples."""
    if n < TAIL_MIN_SAMPLES:
        return None
    best = None
    for q in TAIL_LADDER:
        if n * (100.0 - q) / 100.0 >= TAIL_MIN_BEYOND - 1e-6:
            best = q
    return best


def tail(values) -> tuple[float, float] | None:
    """(percentile, value) by the tail rule, or None."""
    q = tail_percentile(len(values))
    return None if q is None else (q, percentile(values, q))


def median(values, default: float = 0.0) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else default


def union_length(intervals) -> float:
    """Total length covered by possibly overlapping [start, end) intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def clip(intervals, start: float, end: float):
    """Intervals cut to [start, end]; those outside it vanish."""
    return [(max(s, start), min(e, end)) for s, e in intervals if e > start and s < end]


def self_times(spans) -> dict:
    """Span id -> duration minus the part of it its direct children cover.

    ``spans`` is an iterable of objects with ``id``, ``parent``, ``start``
    and ``end``. Children may overlap each other; covered time is
    counted once.
    """
    spans = list(spans)
    kids: dict = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: (s.end - s.start) - union_length(clip(kids.get(s.id, []), s.start, s.end))
        for s in spans
    }


def aggregate_by_group(jobs, stages) -> dict:
    """Sum Spark job/stage figures per job group.

    ``jobs``: dicts with ``job_id``, ``group`` and ``stage_ids``.
    ``stages``: stage id -> dict of numeric stage metrics.
    A stage that several jobs list (a reused shuffle stage shows up as
    skipped in later jobs) counts once, for the lowest job id listing
    it; stage ids missing from ``stages`` (never run) count nothing.
    """
    out: dict = {}
    seen: set = set()
    for job in sorted(jobs, key=lambda j: j["job_id"]):
        agg = out.setdefault(job["group"], {"jobs": 0})
        agg["jobs"] += 1
        for sid in job["stage_ids"]:
            if sid in seen or sid not in stages:
                continue
            seen.add(sid)
            for k, v in stages[sid].items():
                agg[k] = agg.get(k, 0) + v
    return out


def bytes_ratio(written_bytes: int, input_bytes: int) -> float:
    """Bytes produced per byte of input consumed."""
    if input_bytes <= 0:
        raise ValueError("no input bytes consumed")
    return written_bytes / input_bytes


def new_files_since(snapshots, seen_paths: set) -> list:
    """File entries of ``snapshots`` whose path is not in ``seen_paths``;
    adds them to it. Files that several snapshots share count once."""
    out = []
    for snap in snapshots:
        for f in snap["files"]:
            if f["path"] not in seen_paths:
                seen_paths.add(f["path"])
                out.append(f)
    return out
