#!/usr/bin/env python3
"""Fast self-test of the benchmark at sf0.001.

    python3 perfbench/selftest.py [workload ...]

Run from the root of a checkout. Runs every workload (default: star_olap
and pipeline) once untraced and once traced with --seconds 1 and
asserts that each run exits 0, prints the result object as its last line
with every metric BENCHMARK.json names and that metric's unit, reports no
failed operation, and ran the output check.
"""
import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("star_olap", "pipeline")


def check(workload, trace, spec):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace), "--sf", "0.001"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    where = f"{workload} --trace {trace}"
    assert proc.returncode == 0, f"{where}: exit {proc.returncode}\n{proc.stderr[-3000:]}"
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, f"{where}: keys {set(res)}"
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, f"{where}: {res}"
    wanted = spec["per_layer" if trace else "end_to_end"]
    assert set(res["metrics"]) == {m["name"] for m in wanted}, f"{where}: metric names differ"
    for m in wanted:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"], f"{where}: {m['name']} unit {got['unit']}"
        assert isinstance(got["value"], (int, float)), f"{where}: {m['name']} = {got['value']}"
    checked = re.search(r"output check: (\d+) checked, (\d+) failed", proc.stderr)
    assert checked and int(checked.group(1)) > 0 and checked.group(2) == "0", \
        f"{where}: the output check did not run cleanly"
    print(f"ok  {where}: {len(wanted)} metrics, {checked.group(1)} outputs checked")


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    for workload in sys.argv[1:] or WORKLOADS:
        for trace in (0, 1):
            check(workload, trace, spec)


if __name__ == "__main__":
    main()
