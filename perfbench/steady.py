#!/usr/bin/env python3
"""Steadiness check: run one workload N times with different seeds and
report, for every end-to-end metric, the median, the quartiles and the
spread (q3 - q1) / median, next to the metric's bound in BENCHMARK.json.

    python3 perfbench/steady.py --workload driver_programs --runs 10 [--first-seed 1]
        [--json set2.json] [--against set1.json]

Every metric, setup_s included, is held to its bound: a spread above the
bound fails, one above a third of it is flagged. With --against, each
median is also compared with the median of an earlier set written by
--json, and a median worse by more than the bound fails.
"""
import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from bench import stats  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--json", help="also write the raw values here")
    ap.add_argument("--against", help="an earlier set written by --json to compare medians with")
    a = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    better = {m["name"]: m["better"] for m in bench["end_to_end"]}
    earlier = None
    if a.against:
        with open(a.against) as fh:
            earlier = json.load(fh)["values"]
    values, walls = {}, []
    for i in range(a.runs):
        seed = a.first_seed + i
        t0 = time.time()
        proc = subprocess.run(bench["command"] + ["--workload", a.workload, "--seed", str(seed),
                                                  "--seconds", str(bench["run_seconds"]),
                                                  "--trace", "0"],
                              capture_output=True, text=True)
        walls.append(time.time() - t0)
        if proc.returncode != 0:
            sys.stderr.write(proc.stderr[-3000:])
            print(f"seed {seed}: exit {proc.returncode}")
            return 1
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        if not result["correct"]:
            print(f"seed {seed}: incorrect {result}")
            return 1
        for k, m in result["metrics"].items():
            values.setdefault(k, []).append(m["value"])
        print(f"seed {seed} ({walls[-1]:.0f} s): " +
              " ".join(f"{k}={m['value']:.4g}" for k, m in result["metrics"].items()), flush=True)
    print(f"\n{a.workload}: {a.runs} runs, {stats.median(walls):.0f} s median wall per run")
    within = True
    for k, xs in values.items():
        q1, med, q3 = stats.quartiles(xs)
        spread = (q3 - q1) / med if med else float("inf")
        bound = bounds[k]
        flag = "ok" if spread < bound / 3 else ("within bound" if spread <= bound else "TOO WIDE")
        within = within and spread <= bound
        line = (f"  {k:14s} median={med:.4g} q1={q1:.4g} q3={q3:.4g} spread={spread:.3f} "
                f"bound={bound} {flag}")
        if earlier is not None:
            before = stats.median(earlier[k])
            worse = (med - before) / before if better[k] == "lower" else (before - med) / before
            within = within and worse <= bound
            line += f" | earlier median={before:.4g} worse by {worse:+.3f}" + \
                (" TOO MUCH" if worse > bound else "")
        print(line)
    if a.json:
        with open(a.json, "w") as fh:
            json.dump({"workload": a.workload, "values": values, "walls": walls}, fh)
    return 0 if within else 1


if __name__ == "__main__":
    sys.exit(main())
