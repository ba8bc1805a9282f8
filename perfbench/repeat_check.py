#!/usr/bin/env python3
"""Check that a traced run's counts repeat exactly at one seed.

    python3 perfbench/repeat_check.py --workload serve --seed 1

Runs the workload twice with --trace 1 and compares every count the trace
reports: Spark jobs, stages and tasks, filesystem ops, scan rows (per call
and per workload), bytes per vector and recall@10. Times are not compared.
Prints each count that differs between the two runs and exits 1 if any
does. Run from the root of a graft checkout.
"""
import argparse
import json
import subprocess
import sys

COUNT_SUFFIXES = (".calls", ".jobs", ".tasks", ".fs_ops", ".scan_rows")
COUNT_NAMES = {
    "spark.jobs", "spark.stages", "spark.tasks", "spark.unattributed_jobs",
    "fs.list_ops", "fs.open_ops", "fs.create_ops", "fs.rename_ops",
    "fs.delete_ops", "recall_at_10", "bytes_per_vector",
}


def counts(workload, seed):
    r = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                        workload, "--seed", str(seed), "--trace", "1"],
                       stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True)
    if r.returncode != 0:
        sys.exit(f"traced {workload} run failed with exit {r.returncode}")
    lines = r.stdout.splitlines()
    out = {k: m["value"] for k, m in json.loads(lines[-1])["metrics"].items()
           if k in COUNT_NAMES}
    for line in lines[:-1]:
        parts = line.split()
        # "# <workload> <name> <value> [unit]"
        if len(parts) >= 4 and parts[0] == "#" and parts[1] == workload:
            name = parts[2]
            if name.endswith(COUNT_SUFFIXES) or name in COUNT_NAMES:
                out[name] = float(parts[3]) if parts[3] != "null" else None
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    first = counts(a.workload, a.seed)
    second = counts(a.workload, a.seed)
    differ = sorted(k for k in first.keys() | second.keys()
                    if first.get(k) != second.get(k))
    for k in differ:
        print(f"differs: {k}: {first.get(k)} vs {second.get(k)}")
    print(f"{a.workload} seed {a.seed}: {len(first) - len(differ)} of "
          f"{len(first)} counts repeat exactly")
    sys.exit(1 if differ else 0)


if __name__ == "__main__":
    main()
