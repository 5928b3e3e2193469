#!/usr/bin/env python3
"""Run the benchmark over several seeds and report each metric's spread.

Usage (from the root of a checkout):

    python3 perfbench/steady.py --workloads ingest,serve --seeds 1-10 [--trace 0]

For every workload and metric it prints the median of the runs and the
spread: the distance between the first and third quartile (as Python's
statistics.quantiles(values, n=4) gives them) as a share of the median,
next to the metric's bound from BENCHMARK.json. Raw result lines go to
perfbench/out/steady-<workload>.jsonl.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", default="0")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"] + bench["per_layer"]}
    os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
    ok = True
    for w in a.workloads.split(","):
        results = []
        walls = []
        with open(os.path.join(HERE, "out", f"steady-{w}.jsonl"), "a") as log:
            for s in seeds(a.seeds):
                cmd = bench["command"] + ["--workload", w, "--seed", str(s),
                                          "--seconds", str(bench["run_seconds"]),
                                          "--trace", a.trace]
                t0 = time.time()
                p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                                   stderr=subprocess.DEVNULL, text=True)
                wall = time.time() - t0
                walls.append(wall)
                lines = p.stdout.strip().splitlines()
                if p.returncode != 0 or not lines:
                    print(f"{w} seed {s}: exit {p.returncode}", file=sys.stderr)
                    ok = False
                    continue
                r = json.loads(lines[-1])
                log.write(json.dumps({"seed": s, **r}) + "\n")
                ok = ok and r["correct"]
                results.append(r)
                print(f"{w} seed {s}: wall {wall:.0f} s correct={r['correct']} " + " ".join(
                    f"{k}={v['value']:.4g}" for k, v in sorted(r["metrics"].items())),
                    file=sys.stderr, flush=True)
        if len(results) < 2:
            continue
        print(f"\n{w}: {len(results)} runs, wall time per run median "
              f"{statistics.median(walls):.0f} s, max {max(walls):.0f} s")
        for k in sorted(results[0]["metrics"]):
            vals = [r["metrics"][k]["value"] for r in results]
            med = statistics.median(vals)
            q = statistics.quantiles(vals, n=4)
            spread = (q[2] - q[0]) / med if med else float("nan")
            b = bounds.get(k)
            flag = "" if b is None or spread < b / 3 else "  <-- not below a third of its bound"
            print(f"  {k:34s} median {med:12.5g}  spread {spread:7.2%}  bound {b}{flag}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
