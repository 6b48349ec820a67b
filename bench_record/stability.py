#!/usr/bin/env python3
"""Stability record: run every workload on several seeds and summarise each
end-to-end metric by its median, quartiles and spread (the distance between
the quartiles as a share of the median, ``statistics.quantiles(n=4)``).
Each invocation appends one set to ``--out``, so two sets of the same code
can be compared.

    python3 bench_record/stability.py --runs 10 --seconds 20 \
        --out bench_record/STABILITY.json

Runs one after another from the repository root; each run is a full
``run.py`` invocation with its own seed.
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
REPO = os.path.dirname(HERE)


def summarise(values: list[float]) -> dict:
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med, "values": values}


def main() -> int:
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", nargs="*", default=list(WORKLOADS))
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    record: dict = {
        "started": time.strftime("%Y-%m-%d %H:%M", time.gmtime()),
        "runs": args.runs,
        "seconds": args.seconds,
        "workloads": {},
    }
    for wl in args.workloads:
        metrics: dict[str, list[float]] = {}
        runs = []
        for seed in range(args.first_seed, args.first_seed + args.runs):
            t0 = time.time()
            proc = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
                 "--seed", str(seed), "--seconds", str(args.seconds), "--trace", "0"],
                cwd=REPO, capture_output=True, text=True,
            )
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                print(proc.stdout[-2000:], proc.stderr[-2000:], file=sys.stderr)
                return 1
            result = json.loads(lines[-1])
            host = next(json.loads(x[6:]) for x in lines if x.startswith("host: "))
            runs.append({
                "seed": seed,
                "wall_s": time.time() - t0,
                "load_1min": host["load_1min"],
                "busy_host": host["busy_host"],
                "attempted": result["attempted"],
                "failed": result["failed"],
            })
            for name, m in result["metrics"].items():
                metrics.setdefault(name, []).append(m["value"])
            print(f"{wl} seed {seed}: {time.time() - t0:.0f} s, failed {result['failed']}", flush=True)
        record["workloads"][wl] = {
            "runs": runs,
            "metrics": {name: summarise(vals) for name, vals in metrics.items()},
        }
    sets = []
    if os.path.exists(args.out):
        with open(args.out) as fh:
            sets = json.load(fh)["sets"]
    with open(args.out, "w") as fh:
        json.dump({"sets": sets + [record]}, fh, indent=1)
        fh.write("\n")
    for wl, rec in record["workloads"].items():
        for name, s in rec["metrics"].items():
            print(f"{wl:12s} {name:18s} median {s['median']:.4f} q1 {s['q1']:.4f} "
                  f"q3 {s['q3']:.4f} spread {s['spread']:.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
