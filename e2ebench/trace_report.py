#!/usr/bin/env python3
"""Summarise a traced run's spans: self time per span name, per op.

    python3 e2ebench/trace_report.py e2ebench/.work/runs/<workload>-seed<n>-trace1/trace.json

A span's self time is its duration minus the part of it that its child
spans cover (children may overlap each other; the union is subtracted).
"""
import collections
import json
import sys


def union_ms(intervals):
    total = 0.0
    cur_s = cur_e = None
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
    """{span id: self time in ms}; children are clipped to their parent."""
    by_parent = collections.defaultdict(list)
    for sp in spans:
        by_parent[sp["parent"]].append(sp)
    out = {}
    for sp in spans:
        s, e = sp["start_ms"], sp["end_ms"]
        kids = [(max(c["start_ms"], s), min(c["end_ms"], e)) for c in by_parent[sp["id"]]]
        kids = [(a, b) for a, b in kids if b > a]
        out[sp["id"]] = max(0.0, (e - s) - union_ms(kids))
    return out


def summary(spans, top=15):
    """Lines: self time summed by span name, then by (op, span name)."""
    st = self_times(spans)
    op_name = {sp["op"]: sp["name"][3:] for sp in spans if sp["name"].startswith("op:")}
    by_name = collections.Counter()
    by_op = collections.Counter()
    for sp in spans:
        by_name[sp["name"] if not sp["name"].startswith("op:") else "op"] += st[sp["id"]]
        if sp["op"] in op_name:
            by_op[(op_name[sp["op"]], sp["name"].split(":")[0])] += st[sp["id"]]
    lines = ["self time by span name (ms, all traced passes):"]
    lines += [f"  {v:10.1f}  {k}" for k, v in by_name.most_common(top)]
    lines.append("self time by op and span name (ms, all traced passes):")
    lines += [f"  {v:10.1f}  {op} / {name}" for (op, name), v in by_op.most_common(top)]
    return lines


if __name__ == "__main__":
    with open(sys.argv[1]) as f:
        doc = json.load(f)
    print("\n".join(summary(doc["spans"], top=int(sys.argv[2]) if len(sys.argv) > 2 else 15)))
