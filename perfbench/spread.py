#!/usr/bin/env python3
"""Medians and quartiles across fresh-JVM runs.

    python3 perfbench/spread.py --workload enrich_stream --runs 10 --seconds 5

Runs ``run.py`` once per seed (seeds 1..runs, each a new process and so a
new JVM), then prints, per end-to-end metric, the median, the quartiles
(``statistics.quantiles(n=4)``) and the spread (q3 − q1) ÷ median. Every
run's result line is kept in ``--out`` (JSON lines) when given.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

from harness import quartiles

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    args = ap.parse_args()

    values: dict[str, list[float]] = {}
    units: dict[str, str] = {}
    failed = 0
    for seed in range(args.first_seed, args.first_seed + args.runs):
        t0 = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)],
            cwd=REPO, capture_output=True, text=True, timeout=900,
        )
        wall = time.perf_counter() - t0
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            failed += 1
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
            continue
        res = json.loads(lines[-1])
        if args.out:
            with open(args.out, "a") as f:
                f.write(json.dumps({"seed": seed, "wall_s": wall,
                                    "log": [ln for ln in proc.stderr.splitlines()
                                            if ln.startswith("perfbench:")],
                                    "report": json.loads(lines[-2])["report"],
                                    **res}) + "\n")
        print(f"seed {seed}: {wall:.1f}s wall, correct={res['correct']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
              flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
            units[k] = v["unit"]
    print(f"\n{args.workload}: {args.runs - failed}/{args.runs} runs ok")
    for k, xs in values.items():
        q1, med, q3 = quartiles(xs)
        spread = (q3 - q1) / med if med else float("nan")
        print(f"  {k:<14} median {med:12.4f} {units[k]:<6} q1 {q1:12.4f} q3 {q3:12.4f} "
              f"spread {spread:.4f}")
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
