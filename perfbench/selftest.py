#!/usr/bin/env python3
"""Self-test of the benchmark on a two-query slice of every workload.

    python3 perfbench/selftest.py

Runs each workload of run.py with ``--trace 0``, and each workload named in
BENCHMARK.json also with ``--trace 1``, and asserts that the last stdout
line is the result object, that the outputs are correct, and that every
end-to-end (untraced) or per-layer (traced) metric of BENCHMARK.json is
emitted with its unit. Exits non-zero on the first failure.
"""
import json
import os
import subprocess
import sys

sys.dont_write_bytecode = True
import run  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))


def check(workload, trace, spec):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--slice", "2"]
    out = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                         text=True, check=True).stdout.splitlines()
    result = json.loads(out[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1, result
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want, f"metrics differ: {set(got) ^ set(want)} or units"
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())
    print(f"ok {workload} trace={trace}: {len(got)} metrics", flush=True)


def main():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    named = {w["name"] for w in spec["workloads"]}
    for workload in run.WORKLOADS:
        check(workload, 0, spec)
        if workload in named:
            check(workload, 1, spec)


if __name__ == "__main__":
    main()
