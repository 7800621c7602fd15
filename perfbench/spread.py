#!/usr/bin/env python3
"""Run one workload over several seeds and report each metric's median
and spread (interquartile range over median).

    python3 perfbench/spread.py --workload drain --seeds 1-10 [--trace 0] [--seconds 10]

Runs are sequential. Each run's result line, its printed metrics and its
wall time are kept in ``.perfbench/spread/<workload>-trace<t>.jsonl``;
the summary is printed as one JSON object.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="first-last, inclusive")
    ap.add_argument("--seconds", default="10")
    ap.add_argument("--trace", default="0")
    args = ap.parse_args()
    lo, hi = (int(x) for x in args.seeds.split("-"))
    out_dir = os.path.join(ROOT, ".perfbench", "spread")
    os.makedirs(out_dir, exist_ok=True)
    log = os.path.join(out_dir, f"{args.workload}-trace{args.trace}.jsonl")
    results = []
    for seed in range(lo, hi + 1):
        cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
               "--workload", args.workload, "--seed", str(seed),
               "--seconds", args.seconds, "--trace", args.trace]
        t0 = time.monotonic()
        p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=240)
        run_s = time.monotonic() - t0
        lines = p.stdout.strip().splitlines() or ["{}"]
        res = json.loads(lines[-1]) if p.returncode == 0 else {}
        res["seed"] = seed
        res["run_s"] = run_s
        # the human-readable "name = value unit (n=N)" lines
        res["printed"] = {
            ln.split(" = ")[0]: float(ln.split(" = ")[1].split()[0])
            for ln in lines[:-1] if " = " in ln and ln.endswith(")")
        }
        with open(log, "a") as f:
            f.write(json.dumps(res) + "\n")
        results.append(res)
        print(f"seed {seed}: exit {p.returncode} correct={res.get('correct')}"
              f" run {run_s:.1f} s",
              file=sys.stderr, flush=True)
    summary = {}
    names = {k for r in results for k in r.get("metrics", {})}
    for name in sorted(names):
        vals = [r["metrics"][name]["value"] for r in results if name in r.get("metrics", {})]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        summary[name] = {"median": med, "q1": q1, "q3": q3, "n": len(vals),
                         "spread": (q3 - q1) / med if med else 0.0}
    print(json.dumps({"workload": args.workload, "trace": args.trace,
                      "all_correct": all(r.get("correct") for r in results),
                      "run_s_max": max(r["run_s"] for r in results),
                      "run_s_median": statistics.median(r["run_s"] for r in results),
                      "metrics": summary}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
