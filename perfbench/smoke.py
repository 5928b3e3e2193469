#!/usr/bin/env python3
"""Smoke test of the benchmark itself, on a tiny instance of each workload.

Usage (from the root of a checkout):  python3 perfbench/smoke.py

Asserts that
  * every workload runs, is correct, and prints exactly the end-to-end
    metrics of BENCHMARK.json with their units (--trace 0), and a traced
    run prints exactly the per-layer metrics with their units;
  * an op class reports p90 only when it has at least 100 samples (ten
    beyond the percentile), and p75 only with at least 40;
  * a deliberately wrong output (--inject-wrong 1) is counted as failed:
    `correct` turns false and ok_ratio (1 - fail ratio) drops below 1.
Takes a few minutes; exits non-zero on the first failed assertion.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ALL_WORKLOADS = ("ingest", "serve", "index-stream")


def run(workload, trace="0", inject="0"):
    cmd = ["python3", os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "2", "--trace", trace, "--size", "tiny",
           "--inject-wrong", inject]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True)
    assert p.returncode == 0, f"{workload}: run.py exited {p.returncode}"
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
    tag = f"{workload}-seed7-trace{trace}-tiny"
    with open(os.path.join(HERE, "out", tag + ".json")) as f:
        detail = json.load(f)
    return result, detail


def expect_metrics(result, specs, label):
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    want = {m["name"]: m["unit"] for m in specs}
    assert got == want, f"{label}: metrics differ: extra {set(got) - set(want)}, " \
                        f"missing {set(want) - set(got)}, units {got} vs {want}"
    for k, v in result["metrics"].items():
        assert isinstance(v["value"], (int, float)), f"{label}: {k} is not a number"


def check_percentiles(detail, label):
    for cls, s in detail["op_classes"].items():
        n = s["n"]
        assert ("p90" in s) == (n >= 100), f"{label}/{cls}: p90 with n={n}"
        assert ("p75" in s) == (40 <= n < 100), f"{label}/{cls}: p75 with n={n}"


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    listed = [w["name"] for w in bench["workloads"]]
    for w in ALL_WORKLOADS:
        result, detail = run(w)
        assert result["correct"] and result["failed"] == 0, f"{w}: {result}"
        expect_metrics(result, bench["end_to_end"], w)
        check_percentiles(detail, w)
        print(f"ok  {w}: {result['attempted']} checked ops, end-to-end metrics complete")
    traced, _ = run(listed[0], trace="1")
    assert traced["correct"], traced
    expect_metrics(traced, bench["per_layer"], f"{listed[0]} traced")
    print(f"ok  {listed[0]} traced: per-layer metrics complete")
    bad, _ = run(listed[0], inject="1")
    ok_ratio = bad["metrics"]["ok_ratio"]["value"]
    assert not bad["correct"] and bad["failed"] >= 1 and ok_ratio < 1, bad
    print(f"ok  {listed[0]} with a wrong output: failed={bad['failed']}, ok_ratio={ok_ratio:.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
