#!/usr/bin/env python3
"""Run the benchmark once per seed and report each metric's spread.

    python3 perfbench/spread.py --workload streaming --seeds 1-10 --save a.json
    python3 perfbench/spread.py --compare a.json b.json

For every metric of the JSON line it prints the median and the quartile
spread, (Q3 - Q1) / median with the quartiles of
``statistics.quantiles(n=4)``, next to the bound from BENCHMARK.json, and
each run's wall time.  A benchmark is steady when every spread is below a
third of its bound.  ``--save`` keeps the values; ``--compare`` reads two
saved sets of the same workload and prints, for each metric, how much
worse the second median is than the first, as a share of the first: two
sets of the same code must agree within the bound.
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
sys.path.insert(0, HERE)

from stats import quartile_spread  # noqa: E402


def seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def load_spec() -> dict:
    with open("BENCHMARK.json") as fh:
        return json.load(fh)


def run_seeds(spec: dict, workload: str, seed_list: list[int], trace: int) -> dict:
    values: dict[str, list[float]] = {}
    for seed in seed_list:
        cmd = spec["command"] + ["--workload", workload, "--seed", str(seed),
                                 "--seconds", str(spec["run_seconds"]), "--trace", str(trace)]
        t = time.time()
        out = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
        last = json.loads(out.stdout.strip().splitlines()[-1])
        print(f"seed {seed}: {time.time() - t:.1f} s wall, correct {last['correct']}, "
              f"failed {last['failed']}/{last['attempted']}", flush=True)
        for k, v in last["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    return values


def worse(first: list[float], second: list[float], better: str) -> float:
    """How much worse the second median is than the first, as a share of
    the first (negative when it is better)."""
    m1, m2 = statistics.median(first), statistics.median(second)
    return (m2 - m1) / m1 if better == "lower" else (m1 - m2) / m1


def compare(spec: dict, first: dict, second: dict) -> None:
    better = {m["name"]: m["better"] for m in spec["end_to_end"] + spec["per_layer"]}
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    print(f"{'metric':28s} {'median 1':>12s} {'median 2':>12s} {'worse':>8s} {'bound':>6s}")
    for k, vs in first.items():
        m1, m2 = statistics.median(vs), statistics.median(second[k])
        b = bounds.get(k)
        print(f"{k:28s} {m1:12.6g} {m2:12.6g} {worse(vs, second[k], better[k]):8.4f} "
              f"{b if b is not None else '-':>6}")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--save", help="write the values to this JSON file")
    ap.add_argument("--compare", nargs=2, metavar="SAVED", help="compare two saved sets")
    args = ap.parse_args()
    spec = load_spec()
    if args.compare:
        sets = []
        for path in args.compare:
            with open(path) as fh:
                sets.append(json.load(fh))
        compare(spec, *sets)
        return 0
    values = run_seeds(spec, args.workload, seeds(args.seeds), args.trace)
    if args.save:
        with open(args.save, "w") as fh:
            json.dump(values, fh, indent=1)
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    print(f"{'metric':28s} {'median':>12s} {'spread':>8s} {'bound':>6s}")
    for k, vs in values.items():
        b = bounds.get(k)
        print(f"{k:28s} {statistics.median(vs):12.6g} {quartile_spread(vs):8.4f} "
              f"{b if b is not None else '-':>6}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
