#!/usr/bin/env python3
"""A/A steadiness check: run one commit's benchmark in two alternating sets.

    python3 perfbench/aa.py --workload graphdb --runs 5 --out aa.json

Runs ``perfbench/run.py`` ``runs`` times for each of two sets, A and B,
alternating (A1 B1 A2 B2 ...), each run a fresh process with its own seed.
For each end-to-end metric it prints each set's median and quartiles, the
spread over all runs ((Q3 - Q1) / median, quartiles from
``statistics.quantiles(values, n=4)``) and how far set B's median is from
set A's in the metric's worse direction, next to the bound in
BENCHMARK.json. A spread above a third of the bound, or a drift beyond the
bound, is flagged, for every metric. Run it from the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETS = "AB"


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def run_once(workload: str, seed: int, seconds: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"run.py failed for seed {seed} (exit {proc.returncode})")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    if not result["correct"]:
        raise SystemExit(f"seed {seed}: outputs failed their checks: {result}")
    return {k: v["value"] for k, v in result["metrics"].items()}


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--runs", type=int, default=5, help="runs per set")
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--first-seed", type=int, default=1000)
    ap.add_argument("--out", help="write the raw values here as JSON")
    args = ap.parse_args()
    if args.runs < 2:
        ap.error("--runs must be at least 2")

    sets: list[list[dict]] = [[] for _ in SETS]
    seed = args.first_seed
    for i in range(args.runs):
        for s, name in enumerate(SETS):
            sets[s].append(run_once(args.workload, seed, args.seconds))
            print(f"run {i + 1}/{args.runs} set {name} seed {seed} done",
                  file=sys.stderr, flush=True)
            seed += 1

    rows = []
    print(f"{'metric':<18} {'set':<3} {'median':>11} {'Q1':>11} {'Q3':>11} "
          f"{'spread':>7} {'bound':>6}  flags")
    for metric in bench["end_to_end"]:
        name, bound = metric["name"], metric["bound"]
        sign = 1 if metric["better"] == "lower" else -1
        all_values = [r[name] for runs in sets for r in runs]
        meds = []
        for s, runs in enumerate(sets):
            values = [r[name] for r in runs]
            q1, _, q3 = statistics.quantiles(values, n=4)
            meds.append(statistics.median(values))
            print(f"{name:<18} {SETS[s]:<3} {meds[-1]:>11.4f} {q1:>11.4f} {q3:>11.4f} "
                  f"{spread(values):>7.3f} {bound:>6.2f}")
        total = spread(all_values)
        drift = sign * (meds[1] - meds[0]) / meds[0]
        flags = []
        if total > bound / 3:
            flags.append("spread>bound/3")
        if drift > bound:
            flags.append("drift>bound")
        print(f"{name:<18} {'all':<3} {statistics.median(all_values):>11.4f} "
              f"{'':>11} {'':>11} {total:>7.3f} {bound:>6.2f}  "
              f"drift {drift:+.3f} {' '.join(flags)}")
        rows.append({"metric": name, "bound": bound, "spread_all": total,
                     "drift_b_vs_a": drift, "medians": meds,
                     "values": [[r[name] for r in runs] for runs in sets]})
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"workload": args.workload, "seconds": args.seconds,
                       "metrics": rows}, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
