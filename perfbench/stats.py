"""Arithmetic the benchmark reports with: percentiles, interval unions,
self time of nested spans, driver gaps and open-loop latency.

Times are milliseconds on one axis (the JVM's `perfbench.Clock`).
"""

import math

# A percentile is reported only when at least this many samples lie
# beyond it; fewer make the value one or two unlucky samples.
MIN_BEYOND = 10


def percentile(values, q):
    """Nearest-rank percentile `q` in (0, 1] of `values`.

    Raises ValueError when fewer than MIN_BEYOND samples lie beyond the
    percentile (a median needs 20 samples, p90 needs 100, p95 needs 200)."""
    n = len(values)
    if not 0 < q <= 1:
        raise ValueError(f"percentile {q} outside (0, 1]")
    beyond = n - math.ceil(q * n)
    if n == 0 or beyond < MIN_BEYOND:
        raise ValueError(f"p{q * 100:g} of {n} samples has {max(beyond, 0)} beyond it;"
                         f" at least {MIN_BEYOND} are needed")
    return sorted(values)[math.ceil(q * n) - 1]


def median(values):
    """The median of `values` (mean of the middle two when even)."""
    s = sorted(values)
    if not s:
        raise ValueError("median of no samples")
    m = len(s) // 2
    return s[m] if len(s) % 2 else (s[m - 1] + s[m]) / 2


def union_length(intervals):
    """Total length covered by `intervals`, each (start, end); overlaps count once."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def covered(window, intervals):
    """Length of `window` (start, end) covered by the union of `intervals`."""
    ws, we = window
    return union_length((max(s, ws), min(e, we)) for s, e in intervals)


def driver_gap(window, jobs):
    """Wall time of `window` during which no Spark job ran: the time the
    driver spent planning, scheduling or waiting on itself."""
    return (window[1] - window[0]) - covered(window, jobs)


def self_times(spans, jobs=()):
    """Self time per layer: each span's duration minus the part of it that
    its children cover. Children are spans naming it as parent, and Spark
    jobs naming it as their span (layer "spark", which has no children).

    `spans`: dicts with id, parent, layer, t0, t1. `jobs`: dicts with span
    (the id as a string, "" when unlinked), t0, t1. Returns {layer: ms}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["t0"], s["t1"]))
    for j in jobs:
        if j.get("span"):
            children.setdefault(int(j["span"]), []).append((j["t0"], j["t1"]))
    out = {}
    for s in spans:
        window = (s["t0"], s["t1"])
        own = (s["t1"] - s["t0"]) - covered(window, children.get(s["id"], ()))
        out[s["layer"]] = out.get(s["layer"], 0.0) + own
    spark = union_length((j["t0"], j["t1"]) for j in jobs)
    if jobs:
        out["spark"] = out.get("spark", 0.0) + spark
    return out


def due_latency(op):
    """Open-loop latency: from when the request was due, not when it was
    sent, so a stalled sender charges the wait to the requests behind it."""
    return op["end"] - op["due"]


def queue_wait(op):
    """Time a request spent waiting for a sender after it was due."""
    return op["start"] - op["due"]


def backlog_grows(ops, limit_ms):
    """True when an open-loop phase fell behind: the last tenth of its
    requests, by due time, has a median latency above `limit_ms`."""
    by_due = sorted(ops, key=lambda o: o["due"])
    tail = by_due[-max(1, len(by_due) // 10):]
    return median([due_latency(o) for o in tail]) > limit_ms
