#!/usr/bin/env python3
"""Runs one workload over several seeds and reports, per metric, the median
and the spread (interquartile distance over the median) of its values.

    python3 perfbench/repeat.py --workload <name> --seeds 1-10
        [--save runs.json] [--compare earlier.json]

--save writes the values; --compare checks them against a saved set with
stats.agree, the benchmark's own agreement rule, and exits 1 on a violation.
"""

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="a seed or a range, as 1-10")
    ap.add_argument("--save")
    ap.add_argument("--compare")
    args = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    values = {}
    for seed in seeds(args.seeds):
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
             "--trace", "0"],
            capture_output=True, text=True)
        last = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else ""
        if proc.returncode != 0:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
            sys.exit(1)
        res = json.loads(last)
        detail = json.loads(proc.stdout.strip().splitlines()[-2])
        print(f"seed {seed} (host steal {detail['host_steal_s']}s): " + ", ".join(
            f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        print(f"{k:40s} median {stats.median(vs):12.4f}  spread "
              f"{stats.spread(vs) if len(vs) > 1 else 0.0:.4f}")
    if args.save:
        with open(args.save, "w") as f:
            json.dump(values, f)
    if args.compare:
        with open(args.compare) as f:
            first = json.load(f)
        problems = stats.agree(first, values, spec["end_to_end"])
        print("\n".join(problems) or "the two sets agree")
        sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
