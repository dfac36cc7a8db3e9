"""Pure helpers for the benchmark: percentiles, interval arithmetic, span
self times, open-loop latency and metric-name validation.  No I/O."""
import math
import re

METRIC_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def valid_metric_name(name):
    return METRIC_NAME.fullmatch(name) is not None


def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least p% of the
    samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0 < p <= 100:
        raise ValueError(f"percentile rank {p} outside (0, 100]")
    s = sorted(values)
    return s[max(0, math.ceil(p / 100.0 * len(s)) - 1)]


def beyond(values, p):
    """How many samples lie strictly above the p-th percentile."""
    q = percentile(values, p)
    return sum(1 for v in values if v > q)


def merge(intervals):
    """The union of (start, end) intervals as sorted, disjoint intervals."""
    out = []
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if out and s <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], e))
        else:
            out.append((s, e))
    return out


def union_length(intervals, lo=None, hi=None):
    """Total length covered by (start, end) intervals, optionally clipped to
    [lo, hi]."""
    lo = float("-inf") if lo is None else lo
    hi = float("inf") if hi is None else hi
    return sum(e - s for s, e in merge((max(s, lo), min(e, hi)) for s, e in intervals))


def nest(root, nodes):
    """Arrange `nodes` (dicts with start, end, layer) under `root` by time
    containment.  A node that starts inside another but outlives it is
    clipped to its enclosing node, and one that starts outside the root is
    left out, so the result is a proper tree.  Returns (tree, unplaced):
    `unplaced` is the node time inside the root that the tree does not
    hold, the misattribution the clipping and leaving out hide."""
    root = dict(root, children=[])
    stack = [root]
    unplaced = 0
    for n in sorted(nodes, key=lambda n: (n["start"], -n["end"])):
        inside = max(0, min(n["end"], root["end"]) - max(n["start"], root["start"]))
        if n["start"] < root["start"] or n["start"] >= root["end"]:
            unplaced += inside
            continue
        while len(stack) > 1 and stack[-1]["end"] <= n["start"]:
            stack.pop()
        parent = stack[-1]
        node = dict(n, end=min(n["end"], parent["end"]), children=[])
        unplaced += inside - max(0, node["end"] - node["start"])
        if node["end"] <= node["start"]:
            continue
        parent["children"].append(node)
        stack.append(node)
    return root, unplaced


def self_times(tree):
    """Per-layer self time of a nested tree: each node's duration minus the
    part of it its children cover."""
    out = {}

    def walk(n):
        covered = union_length([(c["start"], c["end"]) for c in n["children"]])
        out[n["layer"]] = out.get(n["layer"], 0) + (n["end"] - n["start"] - covered)
        for c in n["children"]:
            walk(c)

    walk(tree)
    return out


def open_loop_latencies(events, commits):
    """Latency of each event from the time it was due to be sent (its
    creation stamp) to the commit of the batch that emitted it.

    events:  iterable of (due_ms, batch_id)
    commits: {batch_id: commit_ms}
    """
    return [commits[b] - due for due, b in events]


def slope(points):
    """Least-squares slope of (x, y) points; 0 with fewer than two."""
    if len(points) < 2:
        return 0.0
    n = len(points)
    mx = sum(x for x, _ in points) / n
    my = sum(y for _, y in points) / n
    sxx = sum((x - mx) ** 2 for x, _ in points)
    if sxx == 0:
        return 0.0
    return sum((x - mx) * (y - my) for x, y in points) / sxx

