"""Arithmetic of the benchmark: percentiles, generator lateness, latency
derivations from progress reports and span self time.

Pure functions over plain lists and dicts, so they are unit-tested without
a JVM (see test_benchstats.py).
"""


def percentile(values, q):
    """The q-th percentile (0..100) of `values`, linearly interpolated
    between closest ranks (numpy's default). None for no values."""
    xs = sorted(values)
    if not xs:
        return None
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def weighted_percentile(pairs, q):
    """Nearest-rank q-th percentile of (value, weight) pairs: the smallest
    value whose cumulative weight reaches q% of the total. None if empty."""
    items = sorted((v, w) for v, w in pairs if w > 0)
    total = sum(w for _, w in items)
    if total == 0:
        return None
    need = total * q / 100.0
    acc = 0
    for v, w in items:
        acc += w
        if acc >= need:
            return v
    return items[-1][0]


def lateness(files):
    """How late the generator landed each file against its schedule, in
    ms: visible - due, per file (never negative: landing early is 0)."""
    return [max(0.0, f["visible"] - f["due"]) for f in files]


def batch_end(batch):
    """End of a micro-batch on the benchmark clock: its start plus the
    trigger's execution time."""
    return batch["start"] + batch["durations"].get("triggerExecution", 0)


def first_batch_latency(visible, batches):
    """Latency of an event that became visible at `visible`: from then to
    the end of the first micro-batch that began at or after it. `batches`
    must be sorted by start. None if no such batch."""
    lo, hi = 0, len(batches)
    while lo < hi:
        mid = (lo + hi) // 2
        if batches[mid]["start"] < visible:
            lo = mid + 1
        else:
            hi = mid
    if lo == len(batches):
        return None
    return batch_end(batches[lo]) - visible


def drain_ms(visible, events, batches):
    """Time to take `events` events that became visible at once at
    `visible`, into a stream that was idle before: from then to the end of
    the micro-batch, among those ending after it, by which their rows add
    up to `events`. (A trigger stamps its start before it lists the source,
    so the batch that takes the events may start just before `visible`.)
    `batches` must be sorted by start. None if they never add up."""
    done = 0
    for b in batches:
        if batch_end(b) > visible:
            done += b["rows"]
            if done >= events:
                return batch_end(b) - visible
    return None


def backlog_at(times, files, batches):
    """Events landed but not yet processed at each of `times`: events of
    files visible by then, minus rows of micro-batches finished by then."""
    out = []
    for t in times:
        landed = sum(f["events"] for f in files if f["visible"] <= t)
        done = sum(b["rows"] for b in batches if batch_end(b) <= t)
        out.append(landed - done)
    return out


def union_length(intervals, lo, hi):
    """Length of the union of `intervals` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                     if min(b, hi) > max(a, lo))
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans):
    """Self time of every span: its duration minus the part of its interval
    that its children cover. Spans are dicts with id, parent, start, end;
    returns {id: self ms}."""
    children = {}
    for s in spans:
        children.setdefault(s.get("parent"), []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"]) -
            union_length(children.get(s["id"], []), s["start"], s["end"])
            for s in spans}


def layer_self_times(spans):
    """Self time summed per layer, in ms."""
    st = self_times(spans)
    out = {}
    for s in spans:
        out[s["layer"]] = out.get(s["layer"], 0.0) + st[s["id"]]
    return out
