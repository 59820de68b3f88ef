"""Interval arithmetic behind the per-layer metrics.

A span's `driver_s` is the part of its wall time that no Spark job of its
own covered (planning, collects, driver-side loops); its self time is the
part no child span covered. Both are "duration minus the measure of a
union of intervals clipped to the span", computed here once.
"""


def union_length(intervals):
    """Total length covered by (start, end) intervals; overlaps count once."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted((s, e) for s, e in intervals if e > s):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def covered(lo, hi, intervals):
    """Length of [lo, hi] covered by the union of `intervals`."""
    return union_length((max(s, lo), min(e, hi)) for s, e in intervals)


def uncovered(lo, hi, intervals):
    """Length of [lo, hi] that none of `intervals` covers."""
    return max(0.0, (hi - lo) - covered(lo, hi, intervals))


def driver_ms(span, jobs):
    """Span time (ms) outside every job the span ran. `span` is a dict with
    start_ms/end_ms; `jobs` are (job_id, start_ms, end_ms)."""
    return uncovered(span["start_ms"], span["end_ms"], [(s, e) for _, s, e in jobs])


def self_ms(span, spans):
    """Span time (ms) outside its child spans."""
    children = [(c["start_ms"], c["end_ms"]) for c in spans if c["parent"] == span["id"]]
    return uncovered(span["start_ms"], span["end_ms"], children)
