"""Run one workload over several seeds and report each metric's median
and spread (inter-quartile range as a share of the median).

    python3 perfbench/spread.py --workload query_mix --seeds 1-10 [--out FILE]

Runs are sequential fresh, untraced processes from the repository root,
each for ``run_seconds`` from BENCHMARK.json; each run's result line is
kept in the output file next to the summary.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else float("inf")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="first-last, inclusive")
    ap.add_argument("--out")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    lo, hi = (int(x) for x in args.seeds.split("-"))
    runs = []
    for seed in range(lo, hi + 1):
        cmd = bench["command"] + [
            "--workload", args.workload,
            "--seed", str(seed),
            "--seconds", str(seconds),
            "--trace", "0",
        ]
        t0 = time.time()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
        elapsed = time.time() - t0
        if proc.returncode != 0:
            sys.stderr.write(proc.stderr[-3000:])
            raise SystemExit(f"seed {seed}: exit {proc.returncode}")
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        result["seed"], result["process_s"] = seed, elapsed
        runs.append(result)
        print(json.dumps(result), flush=True)
    names = list(runs[0]["metrics"])
    summary = {
        name: {
            "median": statistics.median(r["metrics"][name]["value"] for r in runs),
            "spread": spread([r["metrics"][name]["value"] for r in runs]),
            "unit": runs[0]["metrics"][name]["unit"],
        }
        for name in names
    }
    summary["_runs"] = {
        "n": len(runs),
        "all_correct": all(r["correct"] for r in runs),
        "failed": sum(r["failed"] for r in runs),
        "max_process_s": max(r["process_s"] for r in runs),
        "mean_process_s": statistics.mean(r["process_s"] for r in runs),
    }
    print(json.dumps({"summary": summary}, indent=1))
    if args.out:
        with open(args.out, "w") as f:
            json.dump(
                {"workload": args.workload, "seconds": seconds, "runs": runs, "summary": summary},
                f,
                indent=1,
            )
    return 0


if __name__ == "__main__":
    sys.exit(main())
