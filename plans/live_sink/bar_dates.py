#!/usr/bin/env python3
"""Per-bar-date job table of two traced trade_live sidecars.

    python3 plans/live_sink/bar_dates.py PARENT_SIDECAR CHANGE_SIDECAR

A sidecar is the file `perfbench/run.py --trace 1` writes to
.bench_build/perfbench/trace-trade_live-<seed>.json. Every call of
`streaming.LiveCycle.bar_date` and `sources.MergeSink.upsert` is matched
to the jobs that ran inside its wall interval, by time, with
plans/trade_cycle/span_table.py's clock bracket. The first table lists
each bar-date of the measured passes by its position in its pass (the
pass's first bar-date is the one that used to create the fills table);
the second gives the medians over the calls of each span.
"""
import os
import statistics
import sys
import json

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "trade_cycle"))
from span_table import calls  # noqa: E402

PER_PASS = 8
KEYS = ["jobs", "tasks", "task_s", "driver_s", "wall_s"]


def fmt(k, v):
    return f"{v:.0f}" if k in ("jobs", "tasks") else f"{v:.3f}"


def main(parent_path, change_path):
    docs = [json.load(open(p)) for p in (parent_path, change_path)]
    p, c = (calls(d, "streaming.LiveCycle.bar_date") for d in docs)
    print("| pass | bar-date | " + " | ".join(f"{k} parent | {k} change" for k in KEYS) + " |")
    print("|---:|---:|" + "---:|" * (2 * len(KEYS)))
    for i, (a, b) in enumerate(zip(p, c)):
        cells = [str(i // PER_PASS + 1), str(i % PER_PASS + 1)]
        cells += [fmt(k, x[k]) for k in KEYS for x in (a, b)]
        print("| " + " | ".join(cells) + " |")
    print()
    print("| span | calls | " + " | ".join(f"{k} parent | {k} change" for k in KEYS) + " |")
    print("|---|---:|" + "---:|" * (2 * len(KEYS)))
    for name in ("streaming.LiveCycle.bar_date", "sources.MergeSink.upsert"):
        sides = [calls(d, name) for d in docs]
        cells = [f"{len(sides[0])}/{len(sides[1])}"]
        cells += [fmt(k, statistics.median(x[k] for x in s)) for k in KEYS for s in sides]
        print(f"| {name} | " + " | ".join(cells) + " |")


if __name__ == "__main__":
    main(*sys.argv[1:3])
