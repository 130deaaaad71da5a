"""Steadiness check: two sets of ten runs of one workload, each run on
another seed (2000-2009, then 2010-2019).

Usage::

    python3 perfbench/steady.py --workload pages_agent

For every end-to-end metric it prints, per set, the median, the first and
third quartiles and the spread (interquartile distance over the median)
next to the metric's bound from ``BENCHMARK.json``, and how far the second
median moved from the first. The same figures follow for the rates and
latencies as measured, before ``run.py`` divides them by
``machine.ref_ms`` (the interleaved reference computation), so one can see
how much the division steadies each metric.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
RUNS, SETS, FIRST_SEED = 10, 2, 2000


def one_run(workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=REPO, capture_output=True, text=True, timeout=400)
    if proc.returncode != 0:
        raise SystemExit(f"run failed (seed {seed}):\n{proc.stderr[-2000:]}")
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    ref = [float(line.split("=", 1)[1]) for line in lines if line.startswith("machine.ref_ms=")]
    result["ref_ms"] = ref[0]
    result["raw"] = [json.loads(line[4:]) for line in lines if line.startswith("raw ")][0]
    return result


def summary(values: list[float]) -> tuple[float, float, float, float]:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q2, q1, q3, (q3 - q1) / q2


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    args = ap.parse_args()
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)

    sets = []
    for k in range(SETS):
        runs = []
        for i in range(RUNS):
            seed = FIRST_SEED + k * RUNS + i
            runs.append(one_run(args.workload, seed, spec["run_seconds"]))
            print(f"set {k + 1} run {i + 1}: seed {seed}", file=sys.stderr, flush=True)
        sets.append(runs)

    for k, runs in enumerate(sets):
        shares = sorted({r["failed"] / r["attempted"] for r in runs})
        print(f"set {k + 1}: {len(runs)} runs, failed share {shares}, "
              f"all correct: {all(r['correct'] for r in runs)}")
    header = f"{'metric':<22}{'bound':>7}" + "".join(
        f"{f'median{k + 1}':>12}{f'q1_{k + 1}':>11}{f'q3_{k + 1}':>11}{f'spread{k + 1}':>9}"
        for k in range(SETS)
    ) + "   move"
    for label, key in (("as reported", "metrics"), ("raw, not divided by machine.ref_ms", "raw")):
        print(f"\n{args.workload}, {label}\n{header}")
        for m in spec["end_to_end"]:
            if key == "raw" and m["unit"] not in ("ref", "MB/ref"):
                continue
            row = f"{m['name']:<22}{m['bound']:>7.2f}"
            medians = []
            for runs in sets:
                q2, q1, q3, spread = summary([r[key][m["name"]]["value"] for r in runs])
                medians.append(q2)
                row += f"{q2:>12.5g}{q1:>11.5g}{q3:>11.5g}{spread:>9.3f}"
            row += f"{(medians[-1] - medians[0]) / medians[0]:>+8.3f}"
            print(row)
    print("\nmachine.ref_ms medians per set:",
          [round(statistics.median(r["ref_ms"] for r in runs), 4) for runs in sets])
    return 0


if __name__ == "__main__":
    sys.exit(main())
