#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics, as the acceptance rule computes
it: for each metric, the distance between the first and third quartile of
its values over runs with different seeds (`statistics.quantiles(v, n=4)`),
as a share of their median, beside the metric's bound.

    python3 perfbench/spread.py --workload <name> [--runs 10] [--first-seed 1]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    a = p.parse_args()
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = spec["run_seconds"]
    rows = []
    for seed in range(a.first_seed, a.first_seed + a.runs):
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                            "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        lines = r.stdout.strip().splitlines()
        if r.returncode != 0 or not lines:
            sys.exit(f"run with seed {seed} failed ({r.returncode})")
        rows.append(json.loads(lines[-1]))
        print(f"seed {seed}: correct={rows[-1]['correct']} failed={rows[-1]['failed']}/{rows[-1]['attempted']}",
              file=sys.stderr)
    print(f"{a.workload}: {len(rows)} runs, all correct: {all(r['correct'] for r in rows)}")
    for m in spec["end_to_end"]:
        v = [r["metrics"][m["name"]]["value"] for r in rows]
        s = spread(v)
        verdict = "steady" if s < m["bound"] / 3 else "within bound" if s <= m["bound"] else "TOO WIDE"
        print(f"  {m['name']:<18} median {statistics.median(v):<14.6g} spread {s:.3f}  "
              f"bound {m['bound']}  {verdict}  [{' '.join(f'{x:.4g}' for x in v)}]")


if __name__ == "__main__":
    main()
