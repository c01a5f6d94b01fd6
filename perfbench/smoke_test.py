#!/usr/bin/env python3
"""Smoke test of the benchmark at its smallest inputs.

Run from the root of a checkout:

    python3 perfbench/smoke_test.py

For every workload in BENCHMARK.json, with tracing off and on, it runs one
short op plus one op that is made to fail, and asserts that:
  - the last stdout line is the result object with exactly the keys
    correct, attempted, failed and metrics, and the checks passed;
  - every metric BENCHMARK.json names for that mode is printed, with its
    unit, as a number;
  - the failing op is counted in `failed` and never timed: every timed
    op is a success, and the timed ops are all the ops that did not fail.
"""
import json
import subprocess
import sys
from pathlib import Path

ROOT = Path.cwd()
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def run(workload, trace):
    cmd = [*SPEC["command"], "--workload", workload, "--seed", "7", "--seconds", "1",
           "--trace", str(trace), "--scale", "smoke", "--fail-op", "1"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert p.returncode == 0, f"{cmd} exited {p.returncode}:\n{p.stderr[-3000:]}"
    lines = p.stdout.strip().splitlines()
    info = json.loads(next(l for l in lines if l.startswith("perfbench-info "))
                      .split(" ", 1)[1])
    return info, json.loads(lines[-1]), p.stderr


def check(workload, trace):
    info, res, err = run(workload, trace)
    where = f"{workload} trace={trace}"
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, where
    assert res["correct"] is True, f"{where}: checks failed\n{err[-3000:]}"
    want = SPEC["per_layer" if trace else "end_to_end"]
    assert set(res["metrics"]) == {m["name"] for m in want}, \
        f"{where}: metrics differ: {set(res['metrics']) ^ {m['name'] for m in want}}"
    for m in want:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"], f"{where}: {m['name']} unit {got['unit']}"
        assert isinstance(got["value"], (int, float)), f"{where}: {m['name']} = {got}"
    if not trace:
        assert all(v["value"] > 0 for v in res["metrics"].values()), f"{where}: a zero metric"
    assert res["failed"] == 1, f"{where}: failed = {res['failed']}"
    assert "op failing-op failed" in err, f"{where}: the failure reason was not logged"
    timed = info["op_samples"]
    assert timed == len(info["op_walls_s"]) >= 1, where
    assert res["attempted"] == timed + res["failed"], \
        f"{where}: attempted {res['attempted']} != timed {timed} + failed {res['failed']}"
    print(f"ok {where}: attempted {res['attempted']}, failed {res['failed']}, "
          f"{len(res['metrics'])} metrics")


def main():
    for w in SPEC["workloads"]:
        for trace in (0, 1):
            check(w["name"], trace)
    print("smoke test passed")


if __name__ == "__main__":
    sys.exit(main())
