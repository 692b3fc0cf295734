"""Arithmetic of the benchmark: percentiles, span self time, executor idle
share and stream chunk latency. Pure functions over plain data, tested by
test_stats.py."""

import math


def percentile(values, q):
    """The q-th percentile (0..100) of `values` by linear interpolation
    between closest ranks, with the sample count: (value, n). An empty
    sample gives (nan, 0)."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return math.nan, 0
    pos = (n - 1) * q / 100.0
    lo = math.floor(pos)
    hi = math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo), n


def median(values):
    return percentile(values, 50)[0]


def union_length(intervals, lo, hi):
    """Length of the union of [start, end) intervals, clipped to [lo, hi)."""
    clipped = sorted((max(s, lo), min(e, hi)) for s, e in intervals)
    total = 0.0
    cur_s = cur_e = None
    for s, e in clipped:
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


def children(spans):
    """Map span id -> list of its child spans."""
    out = {s["id"]: [] for s in spans}
    for s in spans:
        if s["parent"] in out:
            out[s["parent"]].append(s)
    return out


def self_times(spans):
    """Map span id -> self time: its duration minus the part of its interval
    that its child spans cover (overlapping children counted once)."""
    kids = children(spans)
    out = {}
    for s in spans:
        covered = union_length([(c["start_ms"], c["end_ms"]) for c in kids[s["id"]]],
                               s["start_ms"], s["end_ms"])
        out[s["id"]] = (s["end_ms"] - s["start_ms"]) - covered
    return out


def uncovered_frac(span, spans):
    """Share of `span`'s wall time that none of its child spans covers."""
    wall = span["end_ms"] - span["start_ms"]
    if wall <= 0:
        return 0.0
    kids = [c for c in spans if c["parent"] == span["id"]]
    covered = union_length([(c["start_ms"], c["end_ms"]) for c in kids],
                           span["start_ms"], span["end_ms"])
    return 1.0 - covered / wall


def innermost_span(t, spans):
    """The deepest span whose [start, end] contains time t, or None."""
    depth = {}
    by_id = {s["id"]: s for s in spans}

    def d(s):
        if s["id"] not in depth:
            p = by_id.get(s["parent"])
            depth[s["id"]] = 0 if p is None else d(p) + 1
        return depth[s["id"]]

    best = None
    for s in spans:
        if s["start_ms"] <= t <= s["end_ms"] and (best is None or d(s) > d(best)):
            best = s
    return best


def idle_frac(executor_run_ms, wall_ms, cores):
    """1 - executor run time / (wall time x cores): the share of the
    cores' time in which no task ran."""
    if wall_ms <= 0 or cores <= 0:
        return 0.0
    return 1.0 - executor_run_ms / (wall_ms * cores)


def chunk_latencies(chunks, progress):
    """Latency of each stream chunk: from its due time to the completion of
    the first micro-batch (by completion time) whose source end offset
    covers the chunk's offset. Returns one entry per chunk, None when no
    batch covered it."""
    done = sorted(progress, key=lambda p: p["done_ms"])
    out = []
    for c in chunks:
        hit = next((p for p in done if p["end_offset"] >= c["offset"]), None)
        out.append(None if hit is None else (hit["done_ms"] - c["due_ms"]) / 1e3)
    return out
