"""Steadiness check: run every workload repeatedly, alternating, and print
each end-to-end metric's median and quartiles next to its bound.

    python3 perfbench/steady.py --runs 10 --seed0 100
    python3 perfbench/steady.py --runs 5 --workloads keys

Run from the checkout root. Runs go one at a time, in the order
``w1 w2 w3 w1 w2 w3 ...``, each with its own seed (``seed0``, ``seed0 + 1``,
...). The spread is the distance between the first and third quartile
(``statistics.quantiles(values, n=4)``) as a share of the median; it should
stay under the metric's bound in ``BENCHMARK.json``. Runs are untraced.
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


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    args = ap.parse_args()
    workloads = args.workloads.split(",")
    results: dict[str, list[dict]] = {w: [] for w in workloads}
    seed = args.seed0
    for i in range(args.runs):
        for w in workloads:
            cmd = bench["command"] + ["--workload", w, "--seed", str(seed),
                                      "--seconds", str(args.seconds),
                                      "--trace", "0"]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                print(f"run {i} {w} seed {seed}: exit {proc.returncode}\n"
                      f"{proc.stderr[-2000:]}", file=sys.stderr)
                return 1
            res = json.loads(lines[-1])
            res["seed"] = seed
            results[w].append(res)
            vals = " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items())
            print(f"run {i} {w} seed={seed} correct={res['correct']} "
                  f"attempted={res['attempted']} failed={res['failed']} {vals}",
                  flush=True)
            seed += 1
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    print(f"\n{'workload':8} {'metric':22} {'median':>10} {'q1':>10} {'q3':>10} "
          f"{'spread':>7} {'bound':>6}  failed/attempted")
    for w, runs in results.items():
        names = sorted({k for r in runs for k in r["metrics"]})
        shares = sorted({r["failed"] / r["attempted"] for r in runs})
        for name in names:
            vals = [r["metrics"][name]["value"] for r in runs if name in r["metrics"]]
            q1, med, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else vals * 3
            spread = (q3 - q1) / med if med else 0.0
            bound = bounds.get(name)
            print(f"{w:8} {name:22} {med:10.4g} {q1:10.4g} {q3:10.4g} "
                  f"{spread:7.3f} {bound if bound is not None else '-':>6}  {shares}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
