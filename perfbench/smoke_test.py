#!/usr/bin/env python3
"""Smoke test of the benchmark itself. Run from the root of a checkout:

    python3 perfbench/smoke_test.py [workload ...]

For each workload (default: all in BENCHMARK.json) it makes one short
untraced run and one short traced run on a small seed and checks that each
prints a well-formed last line carrying exactly the metrics BENCHMARK.json
names, with `ops_failed` = 0. On the first workload it also injects one op
that throws and one op that returns a wrong result, and checks that each
raises the failure count. Exits non-zero on the first problem.
"""
import json
import subprocess
import sys
from pathlib import Path

SPEC = json.loads(Path("BENCHMARK.json").read_text())
# an op of each workload, for the injected failures
VICTIM = {"analytics": "q3_promo_share", "curation_nat": "e4_token_stats",
          "battery_fleet": "cell_CELL00"}


def run(workload, seed, trace, inject=""):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", "1", "--trace", str(trace)]
    if inject:
        cmd += ["--inject", inject]
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        sys.exit(f"FAIL {workload}: exit {p.returncode}\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def main():
    workloads = sys.argv[1:] or [w["name"] for w in SPEC["workloads"]]
    for i, w in enumerate(workloads):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            out = run(w, 1, trace)
            want = {m["name"] for m in SPEC[key]}
            assert set(out) == {"correct", "attempted", "failed", "metrics"}, out.keys()
            assert set(out["metrics"]) == want, set(out["metrics"]) ^ want
            assert out["correct"] and out["failed"] == 0 and out["attempted"] > 0, out
            print(f"ok {w} trace={trace}: {len(want)} metrics, "
                  f"{out['attempted']} ops attempted, 0 failed")
        if i == 0:
            for kind in ("throw", "wrong"):
                out = run(w, 1, 0, f"{kind}:{VICTIM[w]}")
                assert out["failed"] > 0 and not out["correct"], out
                print(f"ok {w}: injected '{kind}' in {VICTIM[w]} -> "
                      f"{out['failed']} failed")


if __name__ == "__main__":
    main()
