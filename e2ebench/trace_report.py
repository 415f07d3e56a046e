#!/usr/bin/env python3
"""Self-time table per layer from a span dump of a traced run.

Usage: python3 e2ebench/trace_report.py e2ebench/out/spans-<workload>-seed<N>.json ...

A span's layer is the first dot-separated part of its name (sources,
alto, operators, sinks, plan, exec; `flow` is the benchmark's own
root span). Its self time is its duration minus the part of that
interval its child spans cover; a layer's self time is the union of
its spans' self intervals. The table gives, per layer, the median
self time over the timed iterations of the run and its share of the
iteration wall.
"""
import json
import statistics
import sys
from collections import defaultdict


def union(intervals):
    """Sorted, merged copy of a list of (start, end) intervals."""
    out = []
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if out and s <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], e))
        else:
            out.append((s, e))
    return out


def minus(a, b, covered):
    """The parts of [a, b] outside the merged intervals `covered`."""
    out, cur = [], a
    for s, e in covered:
        if e <= cur or s >= b:
            continue
        if s > cur:
            out.append((cur, s))
        cur = max(cur, e)
    if cur < b:
        out.append((cur, b))
    return out


def self_times(spans):
    """{run: {layer: seconds}}: per layer, the length of the union of
    its spans' self intervals (a span's interval minus its children's),
    so overlapping spans of one layer are not counted twice."""
    children = defaultdict(list)
    for s in spans:
        children[s["parent"]].append((s["start_s"], s["end_s"]))
    pieces = defaultdict(lambda: defaultdict(list))
    for s in spans:
        own = minus(s["start_s"], s["end_s"], union(children[s["id"]]))
        pieces[s["run"]][s["name"].split(".")[0]].extend(own)
    return {r: {l: sum(e - s for s, e in union(iv)) for l, iv in layers.items()}
            for r, layers in pieces.items()}


def iteration_walls(spans):
    """{run: wall} from the spans with no parent."""
    walls = defaultdict(list)
    for s in spans:
        if s["parent"] == 0:
            walls[s["run"]].append((s["start_s"], s["end_s"]))
    return {r: max(e for _, e in v) - min(s for s, _ in v) for r, v in walls.items()}


def table(dump):
    spans = dump["spans"]
    st = self_times(spans)
    walls = iteration_walls(spans)
    runs = sorted(r for r in st if r.startswith("timed-"))
    layers = sorted({l for r in runs for l in st[r]})
    rows = []
    wall = statistics.median(walls[r] for r in runs) if runs else 0.0
    for l in layers:
        v = statistics.median(st[r].get(l, 0.0) for r in runs)
        rows.append((l, v, v / wall if wall else 0.0))
    return wall, len(runs), rows


def print_report(path, file=sys.stdout):
    with open(path) as f:
        dump = json.load(f)
    wall, n, rows = table(dump)
    print(f"self time per layer, {dump['workload']} seed {dump['seed']}: "
          f"median of {n} timed iterations, iteration wall {wall:.3f} s", file=file)
    print(f"  {'layer':<10} {'self_s':>9} {'share':>7}", file=file)
    for l, v, share in sorted(rows, key=lambda r: -r[1]):
        print(f"  {l:<10} {v:9.3f} {share:7.1%}", file=file)


if __name__ == "__main__":
    for p in sys.argv[1:]:
        print_report(p)
