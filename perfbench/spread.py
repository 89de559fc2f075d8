#!/usr/bin/env python3
"""Check that the benchmark is steady: run one workload on several seeds
and print, for each end-to-end metric, the median, the quartile spread
(Q3 - Q1) as a share of the median, and the metric's bound.

Run from the repository root:

    python3 perfbench/spread.py --workload snapshot_stream --seeds 1 2 3 4 5

A metric is steady when its spread stays below a third of its bound
(`setup_s` is exempt from the spread rule). Runs go one after another;
each run's result line is kept in `.bench_build/spread/`.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    a = ap.parse_args()
    spec = json.load(open("BENCHMARK.json"))
    out_dir = os.path.join(".bench_build", "spread")
    os.makedirs(out_dir, exist_ok=True)
    values = {m["name"]: [] for m in spec["end_to_end"]}
    for seed in a.seeds:
        p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", a.workload,
                            "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                            "--trace", "0"], stdout=subprocess.PIPE, text=True)
        last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
        with open(os.path.join(out_dir, f"{a.workload}-{seed}.json"), "w") as f:
            f.write(last + "\n")
        r = json.loads(last)
        print(f"seed {seed}: exit {p.returncode} correct {r.get('correct')}", file=sys.stderr)
        for k, v in r.get("metrics", {}).items():
            values[k].append(v["value"])
    steady = True
    for m in spec["end_to_end"]:
        xs = values[m["name"]]
        if len(xs) < 2:
            print(f"{m['name']:22s} too few values: {xs}")
            steady = False
            continue
        q1, med, q3 = statistics.quantiles(xs, n=4)
        spread = (q3 - q1) / med if med else float("inf")
        ok = m["name"] == "setup_s" or spread < m["bound"] / 3
        steady &= ok
        print(f"{m['name']:22s} median {med:12.4f} {m['unit']:8s} spread {spread:7.4f} "
              f"bound {m['bound']:.2f} {'ok' if ok else 'WIDE'}")
    sys.exit(0 if steady else 1)


if __name__ == "__main__":
    main()
