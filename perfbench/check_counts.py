#!/usr/bin/env python3
"""Exact-count determinism check: two traced runs with one seed must agree
exactly on every job and task count and on `store.compactions`.

    python3 perfbench/check_counts.py --workload nna --seed 1 [--seconds 12]

Prints both runs' counts and exits 1 on any difference.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def counts(workload, seed, seconds):
    out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                          "--seed", str(seed), "--seconds", str(seconds), "--trace", "1"],
                         capture_output=True, text=True, check=True).stdout
    metrics = json.loads(out.strip().splitlines()[-1])["metrics"]
    return {k: v["value"] for k, v in metrics.items()
            if "jobs" in k or "tasks" in k or k == "store.compactions"}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=12)
    a = ap.parse_args()
    first, second = (counts(a.workload, a.seed, a.seconds) for _ in range(2))
    differ = sorted(k for k in first if first[k] != second.get(k))
    print(json.dumps({"workload": a.workload, "seed": a.seed, "first": first,
                      "second": second, "differ": differ}))
    sys.exit(1 if differ else 0)


if __name__ == "__main__":
    main()
