"""Pure helpers of the benchmark: percentiles, span self time and the
open-loop latency accounting. No I/O, so the unit tests cover them."""
import bisect
import math


def percentile(values, q):
    """Nearest-rank percentile: the smallest value with at least q% of the
    sample at or below it. `q` is in (0, 100]."""
    if not values:
        raise ValueError("percentile of an empty sample")
    if not 0 < q <= 100:
        raise ValueError(f"percentile rank out of range: {q}")
    s = sorted(values)
    return s[max(0, math.ceil(q / 100.0 * len(s)) - 1)]


def median(values):
    """The middle value, or the mean of the two middle values."""
    if not values:
        raise ValueError("median of an empty sample")
    s = sorted(values)
    m = len(s) // 2
    return s[m] if len(s) % 2 else (s[m - 1] + s[m]) / 2.0


def _covered(intervals):
    """Total length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Self time of each span: its duration minus the part of its interval
    that its children cover (children clipped to the parent). Returns
    {span id: self ms}. Spans are dicts with id, parent, start, end."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        clipped = [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                   for c in kids.get(s["id"], [])]
        clipped = [(a, b) for a, b in clipped if b > a]
        out[s["id"]] = (s["end"] - s["start"]) - _covered(clipped)
    return out


def self_time_by_name(spans):
    """Sum of self time per span name."""
    st = self_times(spans)
    out = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + st[s["id"]]
    return out


def open_loop_latencies(start_ms, rate, adds, batches, commits):
    """Per-event latency of an open-loop phase, and how late the generator
    ran, on the harness clock (ms).

    Event i is due at start_ms + 1000 * i / rate. `adds` lists the
    generator's (first event, end event, time added) in order; add k is
    offset k of the source. `batches` lists (batch id, end offset) of the
    micro-batches in id order; `commits` maps batch id to the time its sink
    commit ended. An event's latency runs from when it was due to the sink
    commit of the first batch whose end offset reaches its add, so a stall
    charges every event that was due while it lasted.

    Returns (latencies, generator lags, backlog_max), where backlog_max is
    the largest number of events that were due when a commit ended but had
    not been committed by an earlier batch."""
    ends = [e for _, e in batches]
    lat, lag = [], []
    for k, (first, end, added_at) in enumerate(adds):
        j = bisect.bisect_left(ends, k)
        if j == len(ends):
            raise ValueError(f"add {k} never reached a batch")
        done = commits[batches[j][0]]
        for i in range(first, end):
            due = start_ms + 1000.0 * i / rate
            lat.append(done - due)
            lag.append(max(0.0, added_at - due))
    backlog, n_done = 0, 0
    total = adds[-1][1] if adds else 0
    for batch_id, end in batches:
        if batch_id not in commits:
            continue
        due = min(total, math.floor((commits[batch_id] - start_ms) * rate / 1000.0) + 1)
        backlog = max(backlog, due - n_done)
        if end >= 0:
            n_done = max(n_done, adds[min(end, len(adds) - 1)][1])
    return lat, lag, backlog


def tracing_overhead(walls, traced):
    """Share by which traced passes are slower, each against the mean of
    the untraced passes on either side of it, which cancels a steady
    warm-up drift. `walls` and `traced` describe the passes in order;
    returns 0.0 when no traced pass has untraced neighbours."""
    r = [walls[i] / ((walls[i - 1] + walls[i + 1]) / 2.0)
         for i in range(1, len(walls) - 1)
         if traced[i] and not traced[i - 1] and not traced[i + 1]]
    return median(r) - 1.0 if r else 0.0

