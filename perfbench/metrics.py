"""Metric arithmetic for the benchmark: percentiles, the tail rule, span
trees and per-layer self time. Pure functions over the JVM's raw record,
so the self-tests can drive them with hand-made inputs.
"""
import math
import statistics

TAIL_BEYOND = 10


def p50(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """The highest percentile with at least TAIL_BEYOND samples above it,
    and never below the median.

    Returns (value, percentile, beyond). The percentile is
    max(50, 100 * (n - TAIL_BEYOND) / n) of the n samples, interpolated
    linearly between order statistics, so it moves smoothly with n; with
    20 samples or fewer it is the median.
    """
    if not xs:
        return 0.0, 0.0, 0
    s = sorted(xs)
    n = len(s)
    p = max(0.5, (n - TAIL_BEYOND) / n)
    rank = p * (n - 1)
    lo = int(rank)
    hi = min(lo + 1, n - 1)
    value = s[lo] + (s[hi] - s[lo]) * (rank - lo)
    return value, 100.0 * p, sum(1 for x in s if x > value)


def op_kind(op):
    """What an op is an instance of, for per-kind statistics: the key of a
    declared query or replay, else its kind (a lakehouse commit or read
    type, or an HTTP endpoint).
    """
    return op["name"] if op["kind"] in ("query", "replay") else op["kind"]


def kind_stats(samples):
    """Latency statistics of a mix of op kinds that cost very different
    amounts, so that the figures do not jump with which kind happens to
    sit at a pooled percentile.

    `samples` are (kind, ms) pairs. Returns (p50, tail, percentile,
    beyond, medians): p50 is the geometric mean over kinds of each kind's
    median; tail is p50 times the tail (see `tail`) of every sample's
    ratio to its own kind's median; medians maps each kind to its median.
    """
    groups = {}
    for k, x in samples:
        groups.setdefault(k, []).append(x)
    if not groups:
        return 0.0, 0.0, 0.0, 0, {}
    med = {k: statistics.median(xs) for k, xs in groups.items()}
    gm = math.exp(statistics.fmean(math.log(max(m, 1e-9)) for m in med.values()))
    t, pct, beyond = tail([x / max(med[k], 1e-9) for k, x in samples])
    return gm, gm * t, pct, beyond, med


# ---------------------------------------------------------------- spans

# Static nesting depth of each layer. At any instant of an op, the open
# span with the greatest depth is the layer the op is spending time in.
DEPTH = {
    "op": 0, "http.request": 0,
    "manifest.append": 0, "manifest.delete": 0, "manifest.merge": 0,
    "manifest.compact": 0,
    "operators.build": 1, "sink": 1, "manifest.log_resolve": 1,
    "manifest.read_plan": 1,
    "catalyst.analysis": 2, "catalyst.optimization": 2, "catalyst.planning": 2,
    "streaming.batch": 2,
    "streaming.latest_offset": 3, "streaming.wal_commit": 3,
    "streaming.get_batch": 3, "streaming.query_planning": 3,
    "streaming.add_batch": 3, "streaming.commit_offsets": 3,
    "scheduler.job": 4, "scheduler.stage": 5, "scheduler.task": 6,
}

# micro-batch phases in the order MicroBatchExecution runs them
STREAM_PHASES = [("latestOffset", "streaming.latest_offset"),
                 ("walCommit", "streaming.wal_commit"),
                 ("getBatch", "streaming.get_batch"),
                 ("queryPlanning", "streaming.query_planning"),
                 ("addBatch", "streaming.add_batch"),
                 ("commitOffsets", "streaming.commit_offsets")]


def link(spans):
    """Give every span a parent id: the deepest shallower span that
    contains its start. Spans are dicts with layer/start/end; ids are
    their list positions. The root (depth 0) has parent None.
    """
    order = sorted(range(len(spans)), key=lambda i: (DEPTH[spans[i]["layer"]], spans[i]["start"]))
    for i in order:
        sp = spans[i]
        d = DEPTH[sp["layer"]]
        best = None
        for j in order:
            o = spans[j]
            dj = DEPTH[o["layer"]]
            if dj >= d:
                break
            if o["start"] <= sp["start"] <= o["end"] and (
                    best is None or dj >= DEPTH[spans[best]["layer"]]):
                best = j
        sp["id"] = i
        sp["parent"] = best
    return spans


def self_times(spans, t0, t1):
    """Per-layer self time over [t0, t1]: each instant goes to the
    deepest open span (ties to the latest start). With non-overlapping
    children this is each span minus the part its children cover; with
    parallel children (tasks) the covered instants count once. The
    values sum to t1 - t0 whenever a depth-0 span covers the interval.
    """
    events = []
    for i, sp in enumerate(spans):
        a, b = max(sp["start"], t0), min(sp["end"], t1)
        if a < b:
            events.append((a, 1, i))
            events.append((b, 0, i))
    events.sort()
    out = {}
    active = set()
    prev = t0
    for t, kind, i in events:
        if t > prev:
            if active:
                best = max(active, key=lambda k: (DEPTH[spans[k]["layer"]], spans[k]["start"]))
                layer = spans[best]["layer"]
            else:
                layer = "unattributed"
            out[layer] = out.get(layer, 0.0) + (t - prev)
            prev = t
        if kind:
            active.add(i)
        else:
            active.discard(i)
    if t1 > prev:
        out["unattributed"] = out.get("unattributed", 0.0) + (t1 - prev)
    return out


def op_spans(op, jobs, stages, phases, batches):
    """All spans of one op: its root, the benchmark's marks, the Catalyst
    phases of its sink write, its stream micro-batches (with their phases
    laid out in execution order) and its jobs, stages and tasks.
    """
    spans = [{"layer": op["root"], "start": op["t0"], "end": op["t1"]}]
    spans += [{"layer": l, "start": a, "end": b} for l, a, b in op["marks"]]
    for ph in phases:
        for name in ("analysis", "optimization", "planning"):
            if name in ph:
                a, b = ph[name]
                spans.append({"layer": f"catalyst.{name}", "start": a, "end": max(a, b)})
    for b in batches:
        dur = b["durations"]
        start = b["start"]
        spans.append({"layer": "streaming.batch", "start": start,
                      "end": start + dur.get("triggerExecution", 0)})
        t = start
        for key, layer in STREAM_PHASES:
            d = dur.get(key, 0)
            if d > 0:
                spans.append({"layer": layer, "start": t, "end": t + d})
                t += d
    for j in jobs:
        spans.append({"layer": "scheduler.job", "start": j["start"], "end": j["end"]})
    for st in stages:
        spans.append({"layer": "scheduler.stage", "start": st["submit"], "end": st["end"]})
        for a, b in st["tasks"]:
            spans.append({"layer": "scheduler.task", "start": a, "end": b})
    return [sp for sp in spans if sp["end"] >= sp["start"]]


def union_ms(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total
