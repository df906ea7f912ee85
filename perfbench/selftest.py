#!/usr/bin/env python3
"""Smoke test of the benchmark itself, on the sf0.001 data set.

Usage (from the root of a source checkout):

    python3 perfbench/selftest.py

Runs one pass of each workload untraced and one traced, and asserts
that every end-to-end and per-layer metric is printed with its unit,
that failed_frac is 0 and that the traced run attributed every job.
"""
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def bench(workload, trace):
    cmd = [sys.executable, os.path.join(run.BENCH, "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "0.1", "--trace", str(trace),
           "--data", "sf0.001"]
    r = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
    assert r.returncode == 0, f"{workload} trace={trace} exited {r.returncode}:\n{r.stderr[-3000:]}"
    lines = r.stdout.strip().splitlines()
    return lines[-2], json.loads(lines[-1])


def main():
    for w in run.WORKLOADS:
        summary, res = bench(w, 0)
        assert set(res) == {"correct", "attempted", "failed", "metrics"}, res
        assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, res
        assert {k: v["unit"] for k, v in res["metrics"].items()} == run.END_TO_END, res
        for k, unit in list(run.END_TO_END.items()) + [("failed_frac", "ratio")]:
            assert f"{k}=" in summary and f" {unit}" in summary, (k, summary)
        assert "failed_frac=0.0000 ratio" in summary, summary
        _, traced = bench(w, 1)
        assert traced["correct"] and traced["failed"] == 0, traced
        assert {k: v["unit"] for k, v in traced["metrics"].items()} == run.PER_LAYER, traced
        jobs = traced["metrics"]["trace.jobs"]["value"]
        assert jobs > 0, traced
        print(f"ok {w}: {summary}; traced pass ran {jobs:.0f} jobs, all attributed")
    print("selftest passed")


if __name__ == "__main__":
    main()
