"""Steadiness check: run one workload N times, each in a fresh process
with its own seed, and print every metric's median, quartiles, range
and quartile spread as a share of the median.  Metrics whose spread
exceeds a tenth of the median are flagged.

Usage (from the repository root):

    python3 perfbench/steady.py --workload kg_query --runs 10 --seconds 5

Exits non-zero if any run fails or reports an incorrect output.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench.stats import spread  # noqa: E402

MISS_SHARE = 0.1


def run_once(workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"),
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=os.path.dirname(HERE), text=True,
                          stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                          timeout=600, check=False)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"seed {seed}: exit code {proc.returncode}")
    return json.loads(lines[-1])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1,
                    help="seed of the first run; run k uses seed0 + k")
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    results = []
    for k in range(args.runs):
        res = run_once(args.workload, args.seed0 + k, args.seconds, args.trace)
        results.append(res)
        print(f"seed {args.seed0 + k}: correct={res['correct']} "
              f"attempted={res['attempted']} failed={res['failed']}",
              file=sys.stderr)
    bad = [r for r in results if not r["correct"] or r["failed"]]

    print(f"{args.workload}: {args.runs} runs, trace={args.trace}")
    print(f"{'metric':42s} {'median':>12s} {'q1':>12s} {'q3':>12s} "
          f"{'min':>12s} {'max':>12s} {'iqr/med':>8s}")
    for name in results[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in results]
        st = spread(vals)
        flag = " MISS" if st["iqr_share"] > MISS_SHARE else ""
        print(f"{name:42s} {st['median']:12.6g} {st['q1']:12.6g} "
              f"{st['q3']:12.6g} {st['min']:12.6g} {st['max']:12.6g} "
              f"{st['iqr_share']:8.3f}{flag}")
    if bad:
        print(f"{len(bad)} run(s) failed or were incorrect")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
