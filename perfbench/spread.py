#!/usr/bin/env python3
"""Steadiness check: run one workload with several seeds and report, per
end-to-end metric, the median and the interquartile range as a share of
the median (statistics.quantiles(values, n=4)), next to the metric's bound
in BENCHMARK.json.

Usage, from the root of a checkout:

    python3 perfbench/spread.py --workload <name> --runs 10 [--first-seed 1]
        [--out perfbench/results/<file>.json]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--out")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = spec["run_seconds"]

    runs = []
    for seed in range(args.first_seed, args.first_seed + args.runs):
        t0 = time.time()
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
            text=True)
        wall = time.time() - t0
        lines = p.stdout.strip().splitlines()
        res = json.loads(lines[-1]) if p.returncode == 0 and lines else None
        runs.append({"seed": seed, "exit": p.returncode, "wall_s": wall,
                     "result": res})
        ok = res is not None and res["correct"]
        print(f"seed {seed}: exit {p.returncode} correct {ok} wall {wall:.0f}s "
              + (" ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items())
                 if res else ""), file=sys.stderr, flush=True)

    summary = {}
    good = [r["result"] for r in runs if r["result"] and r["result"]["correct"]]
    for m in spec["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in good]
        if len(vals) < 2:
            continue
        q1, med, q3 = statistics.quantiles(vals, n=4)
        summary[m["name"]] = {"median": med, "iqr_share": (q3 - q1) / med,
                              "bound": m["bound"], "values": vals}
        print(f"{m['name']:>12}: median {med:.4g}  IQR/median "
              f"{(q3 - q1) / med:.3f}  bound {m['bound']}")
    print(f"correct {len(good)}/{len(runs)}, mean wall "
          f"{statistics.mean(r['wall_s'] for r in runs):.1f}s")
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"workload": args.workload, "run_seconds": seconds,
                       "runs": runs, "summary": summary}, f, indent=1)


if __name__ == "__main__":
    main()
