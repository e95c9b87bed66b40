#!/usr/bin/env python3
"""Per-operation table of a perfbench traced run.

Usage:
    python3 tools/trace_ops.py TRACE.json [--baseline BASE.json]

TRACE.json is the span file a traced perfbench run leaves under
.bench_build/trace/ (`python3 perfbench/run.py ... --trace 1`). Each traced
pass opens one `op` span per query or ingest step; its `operators.build`,
`exec.action`, `exec.job` and `exec.stage` spans carry the op's id. For
every operation this prints, as the median over the traced passes:

    wall    the op span, ms
    build   time inside the program's query builder, ms (eager jobs run here)
    action  time in the final action, ms
    jobs    Spark jobs the op launched
    stages  Spark stages the op ran

and a pass total. With --baseline every figure is shown as `base -> new`.
"""
import argparse
import json
import statistics
from collections import defaultdict

COLUMNS = ("wall", "build", "action", "jobs", "stages")


def per_op(path):
    """{label: {column: median over passes}} and the median pass totals."""
    with open(path) as fh:
        spans = json.load(fh)["spans"]
    ops = {s["id"]: s for s in spans if s["name"] == "op"}
    figures = {i: dict.fromkeys(COLUMNS, 0.0) for i in ops}
    for i, s in ops.items():
        figures[i]["wall"] = s["end"] - s["start"]
    child = {"operators.build": ("build", True), "exec.action": ("action", True),
             "exec.job": ("jobs", False), "exec.stage": ("stages", False)}
    for s in spans:
        if s["name"] in child and s["op"] in figures:
            col, timed = child[s["name"]]
            figures[s["op"]][col] += (s["end"] - s["start"]) if timed else 1
    by_label = defaultdict(list)
    for i, s in sorted(ops.items(), key=lambda kv: kv[1]["start"]):
        by_label[s["label"]].append(figures[i])
    passes = max((len(v) for v in by_label.values()), default=0)
    table = {label: {c: statistics.median(f[c] for f in runs) for c in COLUMNS}
             for label, runs in by_label.items()}
    totals = {c: sum(f[c] for f in figures.values()) / max(passes, 1)
              for c in COLUMNS}
    return table, totals, passes


def fmt(v):
    return f"{v:.0f}"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("trace")
    ap.add_argument("--baseline")
    args = ap.parse_args()
    table, totals, passes = per_op(args.trace)
    base, base_totals = ({}, {})
    if args.baseline:
        base, base_totals, _ = per_op(args.baseline)

    def cell(row, base_row, c):
        if base_row is None:
            return fmt(row[c]) if not args.baseline else f"- -> {fmt(row[c])}"
        return f"{fmt(base_row[c])} -> {fmt(row[c])}"

    labels = sorted(table, key=lambda k: -table[k]["wall"])
    print(f"# {args.trace}: median over {passes} traced passes"
          + (f", baseline {args.baseline}" if args.baseline else ""))
    print("| op | " + " | ".join(c + (" (ms)" if c in ("wall", "build", "action") else "")
                                  for c in COLUMNS) + " |")
    print("|---" * (len(COLUMNS) + 1) + "|")
    for label in labels:
        b = base.get(label) if args.baseline else None
        print(f"| {label} | " + " | ".join(cell(table[label], b, c) for c in COLUMNS) + " |")
    b = base_totals if args.baseline else None
    print("| **pass total** | " + " | ".join(cell(totals, b, c) for c in COLUMNS) + " |")


if __name__ == "__main__":
    main()
