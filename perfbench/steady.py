"""Steadiness check: run one workload on several seeds, one run at a time,
and report each end-to-end metric's median, quartiles and spread (the
distance between the quartiles as a share of the median) next to its bound.

    python3 perfbench/steady.py --workload engine --seeds 1 2 3 4 5 [--out FILE]

Quartiles are ``statistics.quantiles(values, n=4)``."""

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


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", type=int, nargs="+", required=True)
    p.add_argument("--out")
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    runs = []
    for seed in args.seeds:
        started = time.time()
        t0 = time.perf_counter()
        proc = subprocess.run(
            bench["command"] + ["--workload", args.workload, "--seed", str(seed),
                                "--seconds", str(bench["run_seconds"]), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True, timeout=900)
        wall = time.perf_counter() - t0
        if proc.returncode != 0:
            sys.stderr.write(proc.stderr[-4000:])
            print(f"seed {seed}: exit {proc.returncode}")
            return 1
        res = json.loads(proc.stdout.strip().splitlines()[-1])
        res["seed"], res["started"], res["wall_s"] = seed, started, wall
        res["detail"] = next((json.loads(line) for line in proc.stderr.splitlines()
                              if line.startswith('{"env"')), None)
        runs.append(res)
        print(f"seed {seed}: {wall:.1f}s correct={res['correct']} failed={res['failed']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
              flush=True)
    summary = {}
    for m in bench["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in runs]
        q1, med, q3 = statistics.quantiles(vals, n=4)
        summary[m["name"]] = {"median": med, "q1": q1, "q3": q3,
                              "spread": (q3 - q1) / med, "bound": m["bound"]}
        print(f"{m['name']:>12}: median {med:.4g} q1 {q1:.4g} q3 {q3:.4g} "
              f"spread {(q3 - q1) / med:.3f} (bound {m['bound']})")
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"workload": args.workload, "runs": runs, "summary": summary}, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
