"""Arithmetic of the benchmark: tail percentiles, job-interval unions,
span self times and ETL node waits. Pure functions, unit-tested in
perfbench/tests/test_metrics.py."""
import statistics


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs, beyond=10):
    """The highest order statistic with at least `beyond` samples above it,
    never below the median: (value, percentile). With fewer than
    2 * beyond + 1 samples this is the upper median."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return 0.0, 0.0
    k = n - 1 - min(beyond, (n - 1) // 2)
    return s[k], 100.0 * (k + 1) / n


def union_length(intervals):
    """Total length covered by a set of [start, end] intervals."""
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


def driver_gap_frac(jobs, start, end):
    """1 - (union of job intervals clipped to [start, end]) / (end - start):
    the share of an operation's wall time in which no Spark job ran."""
    wall = end - start
    if wall <= 0:
        return 0.0
    clipped = [(max(s, start), min(e, end)) for s, e in jobs if min(e, end) > max(s, start)]
    return 1.0 - union_length(clipped) / wall


def self_times(spans, label):
    """Wall-clock attribution of a span tree. Each span's self intervals are
    its [start, end] minus its children's; every instant is split equally
    among the self intervals active at that instant, so concurrent spans
    share the clock and the totals add up to the union of all spans.
    `label(span)` names the bucket a span's self time goes to.
    Spans are dicts with id, parent, start, end."""
    children = {}
    for sp in spans:
        children.setdefault(sp["parent"], []).append(sp)
    pieces = []  # (start, end, label)
    for sp in spans:
        kids = sorted((c["start"], c["end"]) for c in children.get(sp["id"], []))
        cur = sp["start"]
        for s, e in kids:
            if s > cur:
                pieces.append((cur, min(s, sp["end"]), label(sp)))
            cur = max(cur, e)
        if cur < sp["end"]:
            pieces.append((cur, sp["end"], label(sp)))
    events = sorted({p[0] for p in pieces} | {p[1] for p in pieces})
    out = {}
    for a, b in zip(events, events[1:]):
        active = [p[2] for p in pieces if p[0] <= a and p[1] >= b]
        for lab in active:
            out[lab] = out.get(lab, 0.0) + (b - a) / len(active)
    return out


def node_waits(nodes, group_start):
    """Per ETL node: its start minus the time its last producer finished
    (the group start for nodes with no producer inside the group). Nodes are
    dicts with name, start, end, inputs, outputs."""
    produced_at = {}
    for n in nodes:
        for o in n["outputs"]:
            produced_at[o] = n["end"]
    waits = {}
    for n in nodes:
        ready = max([produced_at[i] for i in n["inputs"] if i in produced_at], default=group_start)
        waits[n["name"]] = max(0.0, n["start"] - ready)
    return waits


def critical_path(nodes):
    """Longest chain of node walls through the producer -> consumer DAG."""
    producer = {o: n["name"] for n in nodes for o in n["outputs"]}
    by_name = {n["name"]: n for n in nodes}
    memo = {}

    def finish(name):
        if name not in memo:
            n = by_name[name]
            deps = {producer[i] for i in n["inputs"] if i in producer}
            memo[name] = (n["end"] - n["start"]) + max((finish(d) for d in deps), default=0.0)
        return memo[name]

    return max((finish(n) for n in by_name), default=0.0)
