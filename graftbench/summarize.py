#!/usr/bin/env python3
"""Trace summarizer: where a traced benchmark run spent its wall time.

Reads a span file written by `run.py --trace 1` (JSON lines: one `meta`
record, then spans with trace, id, parent, name, layer, start_us, end_us)
and prints:

  - each layer's self time: a span's duration minus the part of it its
    child spans cover, summed per layer over the run's main tree, with
    the share of the run's wall time it accounts for;
  - the concurrent side lane (the changefeed consumer), reported apart;
  - the trigger phases on the blocking path of triggers that carried
    input, as medians, with the median queue wait before admission;
  - trace.overhead_frac, traced against untraced reps of the same run.

Usage: python3 graftbench/summarize.py <spans.jsonl> [...]
"""
import json
import statistics
import sys
from collections import defaultdict


def load(path):
    with open(path) as f:
        lines = [json.loads(x) for x in f if x.strip()]
    return lines[0]["meta"], lines[1:]


def covered(start, end, intervals):
    """Length of [start, end) covered by the union of `intervals`."""
    total, cur = 0, start
    for s, e in sorted(intervals):
        s, e = max(s, cur), min(e, end)
        if e > s:
            total += e - s
            cur = e
    return total


def self_times(spans):
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append((s["start_us"], s["end_us"]))
    return {s["id"]: (s["end_us"] - s["start_us"]) -
            covered(s["start_us"], s["end_us"], kids[s["id"]]) for s in spans}


def lanes(spans):
    """Split spans into the main tree and side lanes (roots marked side)."""
    by_parent = defaultdict(list)
    for s in spans:
        by_parent[s["parent"]].append(s)
    side_ids, stack = set(), [s["id"] for s in spans
                              if s["parent"] == 0 and s["attrs"].get("side")]
    while stack:
        i = stack.pop()
        side_ids.add(i)
        stack += [k["id"] for k in by_parent[i]]
    return ([s for s in spans if s["id"] not in side_ids],
            [s for s in spans if s["id"] in side_ids])


def report(path, out=sys.stdout):
    meta, spans = load(path)
    main, side = lanes(spans)
    st = self_times(spans)
    roots = [s for s in main if s["parent"] == 0]
    wall = sum(s["end_us"] - s["start_us"] for s in roots) / 1e6
    per_layer = defaultdict(float)
    for s in main:
        per_layer[s["layer"]] += st[s["id"]] / 1e6
    p = lambda *a: print(*a, file=out)
    p(f"== {meta.get('workload')} seed {meta.get('seed')}: wall {wall:.2f} s "
      f"over {len(roots)} root span(s)")
    p(f"{'layer':12s} {'self s':>9s} {'share':>7s}")
    for layer, secs in sorted(per_layer.items(), key=lambda x: -x[1]):
        p(f"{layer:12s} {secs:9.3f} {secs / wall:7.1%}" if wall else layer)
    total = sum(per_layer.values())
    p(f"{'sum':12s} {total:9.3f} {total / wall if wall else 0:7.1%} of wall")
    if side:
        side_layer = defaultdict(float)
        for s in side:
            side_layer[s["layer"]] += st[s["id"]] / 1e6
        p("side lane (concurrent): " + ", ".join(
            f"{k} {v:.3f} s" for k, v in sorted(side_layer.items())))
    kids = defaultdict(list)
    for s in main:
        kids[s["parent"]].append(s)
    trig = [s for s in main if s["name"] == "trigger" and s["attrs"].get("rows", 0) > 0]
    if trig:
        phases = defaultdict(list)
        for t in trig:
            phases["trigger"].append((t["end_us"] - t["start_us"]) / 1e3)
            for c in kids[t["id"]]:
                phases[c["name"]].append((c["end_us"] - c["start_us"]) / 1e3)
                for g in kids[c["id"]]:
                    if g["name"] == "kv commit":
                        phases["  kv commit"].append((g["end_us"] - g["start_us"]) / 1e3)
        layers = meta.get("layers", {})
        p(f"blocking path, median over {len(trig)} triggers with input:")
        p(f"  queue wait (release -> trigger start) "
          f"{layers.get('streaming.queue_wait_ms_p50', 0):.1f} ms")
        for name, xs in phases.items():
            p(f"  {name:28s} {statistics.median(xs):9.1f} ms")
    p(f"trace.overhead_frac {meta.get('trace.overhead_frac', 0):+.3f}")


if __name__ == "__main__":
    for f in sys.argv[1:]:
        report(f)
