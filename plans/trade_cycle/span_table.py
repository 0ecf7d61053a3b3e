#!/usr/bin/env python3
"""Per-call figures of two spans of a traced trade_live sidecar.

    python3 plans/trade_cycle/span_table.py PARENT_SIDECAR CHANGE_SIDECAR

A sidecar is the file `perfbench/run.py --trace 1` writes to
.bench_build/perfbench/trace-<workload>-<seed>.json. For every call of
`pipeline.AutoTrader.runDetailed` and `streaming.LiveCycle.bar_date` it
counts the jobs that ran inside the call's wall interval, their tasks and
summed task time, and the driver time (the part of the wall no job
covers), then prints the medians over the calls as one markdown table.

Jobs are matched to a call by time, not by the tracer's span property: a
streaming micro-batch runs its jobs on the query's own thread, which does
not carry the bar-date span. Spans are timed in ns from the tracer's
start and jobs in epoch ms, so the offset between the two clocks is
bracketed from the jobs that do carry a span id (each lies inside its
span) and the midpoint of the bracket is used.
"""
import json
import statistics
import sys

SPANS = ["pipeline.AutoTrader.runDetailed", "streaming.LiveCycle.bar_date"]


def offset_ns(doc):
    spans = {s["id"]: s for s in doc["spans"]}
    lo, hi = float("-inf"), float("inf")
    for j in doc["jobs"]:
        s = spans.get(j["span"])
        if s is None or s["end_ns"] < 0:
            continue
        lo = max(lo, j["end_ms"] * 1e6 - s["end_ns"])
        hi = min(hi, j["start_ms"] * 1e6 - s["start_ns"])
    return (lo + hi) / 2, (hi - lo) / 1e6


def covered(lo, hi, ivs):
    total, cur = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in ivs):
        if b > a:
            f = max(a, cur)
            if b > f:
                total += b - f
                cur = b
    return total


def calls(doc, name):
    off, _ = offset_ns(doc)
    jobs = [(j["start_ms"] * 1e6 - off, j["end_ms"] * 1e6 - off, j) for j in doc["jobs"]]
    out = []
    for s in doc["spans"]:
        if s["name"] != name or s["end_ns"] < 0:
            continue
        lo, hi = s["start_ns"], s["end_ns"]
        own = [(a, b, j) for a, b, j in jobs if a < hi and b > lo]
        out.append({
            "jobs": len(own),
            "tasks": sum(j["tasks"] for _, _, j in own),
            "task_s": sum(j["task_ms"] for _, _, j in own) / 1e3,
            "driver_s": (hi - lo - covered(lo, hi, [(a, b) for a, b, _ in own])) / 1e9,
            "wall_s": (hi - lo) / 1e9,
        })
    return out


def main(parent_path, change_path):
    docs = [json.load(open(p)) for p in (parent_path, change_path)]
    for label, d in zip(("parent", "change"), docs):
        _, width = offset_ns(d)
        print(f"{label}: clock offset bracket {width:.1f} ms wide")
    keys = ["jobs", "tasks", "task_s", "driver_s", "wall_s"]
    head = "| span | calls | " + " | ".join(f"{k} parent | {k} change" for k in keys) + " |"
    print(head)
    print("|---|---:|" + "---:|" * (2 * len(keys)))
    for name in SPANS:
        p, c = (calls(d, name) for d in docs)
        cells = [f"{len(p)}/{len(c)}"]
        for k in keys:
            for side in (p, c):
                v = statistics.median(x[k] for x in side) if side else float("nan")
                cells.append(f"{v:.0f}" if k in ("jobs", "tasks") else f"{v:.3f}")
        print(f"| {name} | " + " | ".join(cells) + " |")


if __name__ == "__main__":
    main(*sys.argv[1:3])
