#!/usr/bin/env python3
"""Tracing overhead: run one workload untraced and traced on the same
seed and print, per end-to-end metric, traced - untraced (absolute and
as a share of the untraced value).

  python3 perfbench/overhead.py --workload <name> --seed <n> [--seconds <s>]

The traced run reports its own end-to-end values as `traced.<metric>`
per-layer metrics; the self-time table goes to stderr as usual.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(args, trace):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         args.workload, "--seed", str(args.seed), "--seconds",
         str(args.seconds), "--trace", str(trace)],
        stdout=subprocess.PIPE, text=True)
    if p.returncode != 0:
        sys.exit(f"run.py --trace {trace} exited with {p.returncode}")
    return json.loads(p.stdout.strip().splitlines()[-1])["metrics"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    args = ap.parse_args()
    plain, traced = run(args, 0), run(args, 1)
    print(f"{'metric':16s} {'untraced':>12s} {'traced':>12s} {'overhead':>12s}")
    for m in spec["end_to_end"]:
        u = plain[m["name"]]["value"]
        t = traced["traced." + m["name"]]["value"]
        print(f"{m['name']:16s} {u:12.3f} {t:12.3f} {t - u:+12.3f} "
              f"({(t - u) / u:+.1%}) {m['unit']}")


if __name__ == "__main__":
    main()
