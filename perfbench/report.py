#!/usr/bin/env python3
"""Run one workload untraced and traced, for `BENCHMARK.json`'s `run_seconds`,
and print every metric by name with its unit, in one table, with the result
of the output checks.

    python3 perfbench/report.py --workload sync_steady --seed 1
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]
    for trace in (0, 1):
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                            "--workload", args.workload, "--seed", str(args.seed),
                            "--seconds", str(seconds), "--trace", str(trace)],
                           stdout=subprocess.PIPE, text=True)
        if p.returncode != 0:
            return p.returncode
        r = json.loads(p.stdout.strip().splitlines()[-1])
        with open(os.path.join(".bench_out", f"{args.workload}-seed{args.seed}-trace{trace}.json")) as f:
            tail = json.load(f)["cycle_tail"]
        print(f"\n{args.workload} seed {args.seed} trace {trace}: correct={r['correct']} "
              f"attempted={r['attempted']} failed={r['failed']} "
              f"failed_ratio={r['failed'] / r['attempted']:.4f} "
              f"(tail = p{tail['percentile']:.1f} of n={tail['n']} warm cycles)")
        for name, m in r["metrics"].items():
            print(f"  {name:26s} {m['value']:16.6g} {m['unit']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
