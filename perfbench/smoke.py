#!/usr/bin/env python3
"""Smoke test of the benchmark: every workload run.py knows (news_knn too,
which BENCHMARK.json leaves out) at a tiny size, untraced and traced.
Asserts that each run is correct, that every metric named in
BENCHMARK.json prints with its unit, and that failed_frac is 0.

    python3 perfbench/smoke.py          # about three minutes on 4 cores
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# tiny tables, but enough ops to outlast the 2 s loop: a run whose op
# list runs out fails
TINY = {
    "dashboard_mix": {"sf": 0.001, "ops": 2000, "settle_ops": 0},
    "etl_tick": {"sf": 0.001, "ops": 200, "settle_ops": 0},
    "news_knn": {"corpus": 2000, "ops": 400, "settle_ops": 0},
}


def run(workload, trace):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "2", "--trace", str(trace),
         "--size", json.dumps(TINY[workload])],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        timeout=300)
    assert p.returncode == 0, f"{workload} trace={trace}: exit {p.returncode}\n{p.stderr[-3000:]}"
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    for name in TINY:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            record, out = run(name, trace)
            assert set(out) == {"correct", "attempted", "failed", "metrics"}, out
            assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1, record
            assert record["metrics"]["failed_frac"] == 0.0, record
            assert not record["leftovers"], record
            for m in spec[key]:
                got = out["metrics"].get(m["name"])
                assert got is not None, f"{name}: {m['name']} missing"
                assert got["unit"] == m["unit"], f"{m['name']}: unit {got['unit']}"
                assert isinstance(got["value"], (int, float)), got
            print(f"ok  {name} trace={trace}: {out['attempted']} ops")
    print("smoke ok")


if __name__ == "__main__":
    main()
