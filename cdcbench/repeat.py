"""Run the benchmark several times and summarise the spread of each metric.

    python3 cdcbench/repeat.py --workload tail --seeds 1-10 [--trace 0] [--out runs.json]

Runs `cdcbench/run.py` once per seed, one run after another, from the
current directory, and prints per metric the median, the quartiles (as
`statistics.quantiles(values, n=4)` gives them) and the spread: the distance
between the quartiles as a share of the median.
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


def seeds_arg(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def summarise(runs: list[dict]) -> dict:
    names = sorted({k for r in runs for k in r["metrics"]})
    out = {}
    for name in names:
        vals = [r["metrics"][name]["value"] for r in runs if name in r["metrics"]]
        med = statistics.median(vals)
        if len(vals) >= 2:
            q1, _, q3 = statistics.quantiles(vals, n=4)
        else:
            q1 = q3 = med
        out[name] = {"median": med, "q1": q1, "q3": q3,
                     "spread": (q3 - q1) / med if med else 0.0, "n": len(vals)}
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    ap.add_argument("--seconds", default="8")
    ap.add_argument("--trace", default="0")
    ap.add_argument("--out")
    args = ap.parse_args()

    runs = []
    for seed in args.seeds:
        t0 = time.time()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", args.seconds, "--trace", args.trace],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        )
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}", flush=True)
            continue
        res = json.loads(lines[-1])
        res.update(seed=seed, wall_s=time.time() - t0)
        runs.append(res)
        print(f"seed {seed}: {res['wall_s']:.1f} s, correct={res['correct']} "
              f"attempted={res['attempted']} failed={res['failed']}", flush=True)
    summary = summarise(runs)
    for name, s in summary.items():
        print(f"{name:28s} median {s['median']:14.6g}  q1 {s['q1']:14.6g}  "
              f"q3 {s['q3']:14.6g}  spread {s['spread']:.4f}")
    if args.out:
        with open(args.out, "w") as fh:
            json.dump({"workload": args.workload, "runs": runs, "summary": summary},
                      fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
