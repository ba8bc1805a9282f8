#!/usr/bin/env python3
"""Run one workload at several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload serve --seeds 1-10

Each run measures for the `run_seconds` of BENCHMARK.json, with tracing
off. For every end-to-end metric it prints the values, their median and
the spread: the distance between the first and third quartile
(statistics.quantiles(values, n=4)) as a share of the median. Raw results
are appended to <build dir>/spread.jsonl. Run from the root of a graft
checkout.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402


def seeds(spec):
    if "-" in spec:
        a, b = spec.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(s) for s in spec.split(",")]


def spread(values):
    med = statistics.median(values)
    if len(values) < 2 or med == 0:
        return med, float("nan")
    q = statistics.quantiles(values, n=4)
    return med, (q[2] - q[0]) / abs(med)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    a = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        seconds = json.load(fh)["run_seconds"]
    out = os.path.join(build.build_dir(), "spread.jsonl")
    runs = []
    for s in seeds(a.seeds):
        t0 = time.time()
        r = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                            a.workload, "--seed", str(s), "--seconds",
                            str(seconds), "--trace", "0"],
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                           text=True)
        wall = time.time() - t0
        if r.returncode != 0:
            print(f"seed {s}: exit {r.returncode}", flush=True)
            continue
        res = json.loads(r.stdout.splitlines()[-1])
        res.update(seed=s, workload=a.workload, seconds=seconds, wall_s=wall)
        runs.append(res)
        with open(out, "a") as fh:
            fh.write(json.dumps(res) + "\n")
        print(f"seed {s}: {wall:.0f} s wall, correct={res['correct']} "
              f"failed={res['failed']}/{res['attempted']}", flush=True)
    if not runs:
        sys.exit("no successful runs")
    print(f"{'metric':28} {'median':>14} {'spread':>8}  values")
    for name in runs[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in runs]
        vals = [v for v in vals if v is not None]
        med, sp = spread(vals)
        print(f"{name:28} {med:14.6g} {sp:8.4f}  "
              + " ".join(f"{v:.6g}" for v in vals))
    walls = [r["wall_s"] for r in runs]
    print(f"{'run wall s':28} {statistics.median(walls):14.6g}")


if __name__ == "__main__":
    main()
