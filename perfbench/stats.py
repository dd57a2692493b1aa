"""The benchmark's arithmetic: percentiles, failure accounting and
per-layer self time from spans. Pure functions over the runner's raw
records, so ``tests/test_stats.py`` can check them without Spark."""
import math
import statistics
from collections import defaultdict

FAILED = math.inf  # latency of a failed operation: it misses every limit
# How far a floating span may stick out of its host before the excess
# counts as unaccounted time, in ns: Spark's stage and phase clocks read
# whole milliseconds, and so does the anchor that maps them onto the
# runner's clock.
CLOCK_SLACK = 2_000_000


def percentile(values, q):
    """Nearest-rank percentile: the smallest sample with at least ``q``
    percent of the samples at or below it."""
    if not values:
        raise ValueError("no samples")
    s = sorted(values)
    return s[max(1, math.ceil(q / 100.0 * len(s))) - 1]


def beyond(n, q):
    """How many of ``n`` samples lie above the nearest-rank ``q``-th
    percentile."""
    return n - max(1, math.ceil(q / 100.0 * n))


def account(ops):
    """Failure accounting over operation records ``{"ok", "latency"}``.
    A failed operation counts as attempted and enters the latency
    samples as missing every limit, so a query that throws fast can
    never make a run look faster."""
    return {"attempted": len(ops), "failed": sum(1 for o in ops if not o["ok"]),
            "latencies": [o["latency"] if o["ok"] else FAILED for o in ops]}


def interactions(requests):
    """Dashboard interactions from their request records ``{"interaction",
    "due", "end", "ok"}``: an interaction's latency runs from its due
    time to its last answer, and it fails if any of its requests failed
    (the page stops at the first failure, so a cut-short interaction
    holds a failed request)."""
    by = defaultdict(list)
    for r in requests:
        by[r["interaction"]].append(r)
    return [{"ok": all(r["ok"] for r in rs),
             "latency": max(r["end"] for r in rs) - min(r["due"] for r in rs)}
            for _, rs in sorted(by.items())]


def finite(v, stand_in):
    """Render a latency that may be FAILED as a JSON number."""
    return stand_in if math.isinf(v) else v


# ---- spans -----------------------------------------------------------

def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
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


def shares(intervals):
    """Each interval's share of the time the set covers: wherever ``k``
    intervals overlap, each gets 1/k of that time. The shares sum to the
    union length."""
    cuts = sorted({p for iv in intervals for p in iv})
    out = [0.0] * len(intervals)
    for a, b in zip(cuts, cuts[1:]):
        active = [i for i, (s, e) in enumerate(intervals) if s <= a and e >= b]
        for i in active:
            out[i] += (b - a) / len(active)
    return out


def place(spans, slack=CLOCK_SLACK):
    """Give every floating span (parent -1: Spark stages and planning
    phases, recorded from Spark's own clocks) the deepest structural
    span containing its midpoint as parent, clamped to that parent.
    Floating spans outside the root are dropped. Returns the placed
    spans and the unaccounted time: the floating time clamped away
    beyond ``slack`` at either end, plus every dropped span whole. That
    is layer time the trace recorded but its self times cannot hold."""
    structural = [s for s in spans if s["parent"] != -1]
    depth = {}
    by_id = {s["id"]: s for s in structural}

    def d(s):
        if s["id"] not in depth:
            p = by_id.get(s["parent"])
            depth[s["id"]] = 0 if p is None else d(p) + 1
        return depth[s["id"]]

    out, lost = list(structural), 0
    for f in spans:
        if f["parent"] != -1:
            continue
        mid = (f["start"] + f["end"]) / 2.0
        hosts = [s for s in structural if s["start"] <= mid <= s["end"]]
        if not hosts:
            lost += f["end"] - f["start"]
            continue
        h = max(hosts, key=d)
        lost += max(0, h["start"] - f["start"] - slack) + max(0, f["end"] - h["end"] - slack)
        out.append(dict(f, parent=h["id"], start=max(f["start"], h["start"]),
                        end=min(f["end"], h["end"])))
    return out, lost


def self_times(spans, slack=CLOCK_SLACK):
    """Per-name self time of one trace, its root's wall time, and the
    unaccounted time ``place`` reports. A span's self time is its
    duration minus the part its children cover; where children overlap,
    each child's subtree is weighted by its share of the overlap, so the
    self times of a trace sum to its root's wall time."""
    spans, lost = place(spans, slack)
    roots = [s for s in spans if s["parent"] == 0]
    if len(roots) != 1:
        raise ValueError(f"a trace needs exactly one root, got {len(roots)}")
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)
    out = defaultdict(float)

    def visit(node, weight):
        cs = [(max(c["start"], node["start"]), min(c["end"], node["end"]), c)
              for c in kids[node["id"]]]
        cs = [(a, b, c) for a, b, c in cs if b > a]
        ivs = [(a, b) for a, b, _ in cs]
        out[node["name"]] += weight * ((node["end"] - node["start"]) - union_length(ivs))
        for (a, b, c), sh in zip(cs, shares(ivs)):
            visit(dict(c, start=a, end=b), weight * sh / (b - a))

    visit(roots[0], 1.0)
    return dict(out), roots[0]["end"] - roots[0]["start"], lost


def group_traces(spans):
    by = defaultdict(list)
    for s in spans:
        by[s["trace"]].append(s)
    return by


def median(values, default=0.0):
    return statistics.median(values) if values else default


def mean(values, default=0.0):
    return sum(values) / len(values) if values else default
