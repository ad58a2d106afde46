#!/usr/bin/env python3
"""Steadiness of the end-to-end metrics across seeds.

    python3 perfbench/steady.py --workload dump_note --seeds 301-310 --seconds 10

Runs ``perfbench/run.py`` once per seed (untraced), one run at a time, and
prints for each end-to-end metric its median over the runs and its spread:
the distance between the first and third quartile over the median. Run it
from the root of a checkout. Exits non-zero if a run fails.
"""

import argparse
import json
import os
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402


def seeds(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds, required=True, help="first-last, e.g. 301-310")
    ap.add_argument("--seconds", default="10")
    a = ap.parse_args()
    values = {}
    for seed in a.seeds:
        t0 = time.time()
        r = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload, "--seed", str(seed),
             "--seconds", a.seconds, "--trace", "0"],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        )
        lines = r.stdout.strip().splitlines()
        if r.returncode != 0 or not lines:
            print(f"seed {seed}: run failed with exit code {r.returncode}", flush=True)
            return 1
        result = json.loads(lines[-1])
        shown = {k: round(m["value"], 4) for k, m in result["metrics"].items()}
        print(f"seed {seed}: {time.time() - t0:.1f} s {shown}", flush=True)
        for k, m in result["metrics"].items():
            values.setdefault(k, []).append(m["value"])
    if len(a.seeds) < 2:
        return 0
    print(f"| workload | metric | median | spread |  ({len(a.seeds)} seeds, cpus = {os.cpu_count()})")
    for k, v in values.items():
        print(f"| `{a.workload}` | `{k}` | {stats.median(v):.4g} | {stats.spread(v):.3f} |")
    return 0


if __name__ == "__main__":
    sys.exit(main())
