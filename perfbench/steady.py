"""Steadiness procedure: run one workload's runs twice on the same code
and report each end-to-end metric's spread against the benchmark's bound.

    python3 perfbench/steady.py --workload cycle_steady

It makes SETS sets of RUNS runs (seeds 1-10 in the first set, 11-20 in
the second, ...) and takes each end-to-end metric's values per set: their
median and quartile spread, (Q3 - Q1) / median with
``statistics.quantiles(n=4)``. A set passes when every spread is within
the metric's bound; the sets agree when every later median is within the
bound of the first, either way: |m / m0 - 1| <= bound. Exit code 0 iff
everything passes. Run from the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from stats import median, quartile_spread  # noqa: E402

RUNS = 10
SETS = 2


def one_run(workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t0 = time.perf_counter()
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t0
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        raise RuntimeError(f"seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}")
    res = json.loads(lines[-1])
    if not res["correct"]:
        raise RuntimeError(f"seed {seed}: outputs failed their check: {lines[-6:]}")
    res["wall_s"] = wall
    return res


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    args = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    seconds = spec["run_seconds"]

    sets = []
    for s in range(SETS):
        runs = []
        for i in range(RUNS):
            seed = 1 + s * RUNS + i
            r = one_run(args.workload, seed, seconds)
            runs.append(r)
            print(f"set {s} seed {seed}: {r['wall_s']:.1f} s wall, "
                  + ", ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()),
                  flush=True)
        sets.append(runs)
    ok = True
    print(f"\n{args.workload}: {RUNS} runs x {SETS} sets, run_seconds={seconds}")
    print(f"{'metric':22s} {'bound':>6s} " + " ".join(
        f"{'median' + str(s):>10s} {'spread' + str(s):>8s}" for s in range(SETS))
        + "  verdict")
    for name, bound in bounds.items():
        meds, spreads = [], []
        for runs in sets:
            vals = [r["metrics"][name]["value"] for r in runs]
            meds.append(median(vals))
            spreads.append(quartile_spread(vals))
        bad = []
        if any(sp > bound for sp in spreads):
            bad.append("spread over bound")
        if any(abs(m / meds[0] - 1) > bound for m in meds[1:]):
            bad.append("median drifted")
        ok = ok and not bad
        print(f"{name:22s} {bound:6.2f} " + " ".join(
            f"{m:10.4f} {sp:8.3f}" for m, sp in zip(meds, spreads))
            + "  " + (", ".join(bad) or f"ok (worst spread {max(spreads) / bound:.2f} of bound)"))
    walls = [r["wall_s"] for runs in sets for r in runs]
    print(f"run wall time: median {median(walls):.1f} s, max {max(walls):.1f} s")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
