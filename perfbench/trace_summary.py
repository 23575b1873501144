#!/usr/bin/env python3
"""Per-layer self time and the slowest operations of one traced run.

    python3 perfbench/trace_summary.py perfbench/traces/<workload>-seed<n>.spans.json

A span's self time is its duration minus the part of it its child spans
cover. An operation is a child of the `run` span (a drain, catalog call or
query); its driver gap is the part of it no Spark job covers, and its plan
time is the `plan` child a traced query records.
"""
import json
import sys
from collections import defaultdict
from pathlib import Path


def covered(intervals, lo, hi):
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    total, end = 0.0, lo
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


def summarize(path, top=8):
    spans = json.loads(Path(path).read_text())
    children = defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s)
    by_layer = defaultdict(float)
    rows = []
    run_ids = {s["id"] for s in spans if s["layer"] == "run"}
    for s in spans:
        kids = children.get(s["id"], [])
        dur = s["end_ms"] - s["start_ms"]
        self_ms = dur - covered([(k["start_ms"], k["end_ms"]) for k in kids], s["start_ms"], s["end_ms"])
        by_layer[s["layer"]] += self_ms
        if s["parent"] in run_ids:
            jobs = [(k["start_ms"], k["end_ms"]) for k in kids if k["layer"] == "spark"]
            gap = dur - covered(jobs, s["start_ms"], s["end_ms"])
            plan = sum(k["end_ms"] - k["start_ms"] for k in kids if k["layer"] == "plan")
            rows.append((s["op"], s["layer"], s["name"], dur, self_ms, gap, plan))
    out = [f"trace {path}: {len(spans)} spans, {len(rows)} operations", "self time by layer (ms)"]
    for layer, ms in sorted(by_layer.items(), key=lambda kv: -kv[1]):
        out.append(f"  {layer:12s} {ms:12.1f}")
    for title, key in (("self time", 4), ("driver gap", 5), ("plan time", 6)):
        out.append(f"top operations by {title} (ms: wall, self, gap, plan)")
        for r in sorted(rows, key=lambda r: -r[key])[:top]:
            out.append(f"  {r[0]:24s} {r[1]:9s} {r[2][:28]:28s} {r[3]:9.1f} {r[4]:9.1f} {r[5]:9.1f} {r[6]:7.1f}")
    return "\n".join(out)


if __name__ == "__main__":
    print(summarize(sys.argv[1]))
