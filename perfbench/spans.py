"""Pure helpers: percentiles, interval arithmetic and per-span metrics
from the records the engine-side tracer collects.

A trace holds spans (id, run_id, name, parent, start_ms, end_ms,
counters), jobs (span, start_ms, end_ms), stages (span, summed task
metrics) and SQL actions (at_ms, scan and write metrics). A job or stage belongs to
the span whose id it carried; a job that carried none belongs to the
innermost span open when it started, and an action to the innermost
span open at its ``at_ms``.
"""
import math

# Self times of a span tree must add up to the root's wall time within
# this share of it.
SELF_TIME_TOLERANCE = 0.01


def percentile(values, q):
    """The q-th percentile (0..100) with linear interpolation between
    closest ranks, as numpy's default."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values):
    return percentile(values, 50)


def union(intervals, clip=None):
    """Merges (start, end) intervals, optionally clipped to ``clip``;
    returns the sorted, disjoint pieces."""
    pieces = []
    for s, e in intervals:
        if clip is not None:
            s, e = max(s, clip[0]), min(e, clip[1])
        if e > s:
            pieces.append((s, e))
    pieces.sort()
    merged = []
    for s, e in pieces:
        if merged and s <= merged[-1][1]:
            merged[-1] = (merged[-1][0], max(merged[-1][1], e))
        else:
            merged.append((s, e))
    return merged


def covered(intervals, clip=None):
    return sum(e - s for s, e in union(intervals, clip))


class Trace:
    def __init__(self, record):
        self.cores = record["cores"]
        self.spans = {s["id"]: s for s in record["spans"]}
        self.children = {i: [] for i in self.spans}
        for s in record["spans"]:
            if s["parent"] in self.children:
                self.children[s["parent"]].append(s["id"])
        self.jobs = [j for j in record["jobs"] if j["end_ms"] >= j["start_ms"]]
        for j in self.jobs:
            if j["span"] not in self.spans:
                j["span"] = self.innermost(j["start_ms"])
        self.stages = record["stages"]
        for st in self.stages:
            if st["span"] not in self.spans:
                st["span"] = -1
        self.actions = [dict(a, span=self.innermost(a["at_ms"])) for a in record["sql_actions"]]

    def innermost(self, t):
        """The deepest span open at time t, or -1."""
        best, depth = -1, -1
        for sid, s in self.spans.items():
            if s["start_ms"] <= t <= s["end_ms"]:
                d = len(self.ancestors(sid))
                if d > depth:
                    best, depth = sid, d
        return best

    def ancestors(self, sid):
        out = []
        p = self.spans[sid]["parent"]
        while p in self.spans:
            out.append(p)
            p = self.spans[p]["parent"]
        return out

    def subtree(self, sid):
        out, todo = [], [sid]
        while todo:
            i = todo.pop()
            out.append(i)
            todo.extend(self.children[i])
        return set(out)

    def roots(self):
        return [i for i, s in self.spans.items() if s["parent"] not in self.spans]

    def named(self, name):
        return [i for i, s in self.spans.items() if s["name"] == name]

    def interval(self, sid):
        s = self.spans[sid]
        return s["start_ms"], s["end_ms"]

    def wall_s(self, sid):
        s, e = self.interval(sid)
        return (e - s) / 1000.0

    def self_s(self, sid):
        """Wall time minus the part of it the child spans cover."""
        kids = [self.interval(c) for c in self.children[sid]]
        return self.wall_s(sid) - covered(kids, self.interval(sid)) / 1000.0

    def jobs_in(self, sid):
        tree = self.subtree(sid)
        return [j for j in self.jobs if j["span"] in tree]

    def job_covered_s(self, sid):
        """Time within the span while any Spark job was running."""
        iv = [(j["start_ms"], j["end_ms"]) for j in self.jobs]
        return covered(iv, self.interval(sid)) / 1000.0

    def driver_s(self, sid):
        """The span's wall time while no Spark job was running."""
        return self.wall_s(sid) - self.job_covered_s(sid)

    def task_sum(self, sid, key):
        tree = self.subtree(sid)
        return sum(st[key] for st in self.stages if st["span"] in tree)

    def slot_util(self, sid):
        """Task run time over (job-covered time x cores)."""
        busy = self.job_covered_s(sid)
        if busy <= 0:
            return 0.0
        return self.task_sum(sid, "run_ms") / 1000.0 / (busy * self.cores)

    def action_sum(self, sid, key):
        tree = self.subtree(sid)
        return sum(a[key] for a in self.actions if a["span"] in tree)

    def counter(self, sid, key, default=0.0):
        return self.spans[sid]["counters"].get(key, default)

    def self_time_error(self, root):
        """|sum of self times in the tree - root wall| / root wall."""
        total = sum(self.self_s(i) for i in self.subtree(root))
        wall = self.wall_s(root)
        return abs(total - wall) / wall if wall > 0 else 0.0
