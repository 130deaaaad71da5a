"""Protection-path benchmark: one workload, one seed, one JSON result.

Usage::

    python3 perfbench/run.py --workload pages_agent|service_http|spark_table \\
        --seed N --seconds S --trace 0|1

Run from the repository root. The last line of standard output is one
JSON object with ``correct``, ``attempted``, ``failed`` and ``metrics``:
the end-to-end metrics with ``--trace 0``, in the units ``BENCHMARK.json``
declares, and the per-layer metrics with ``--trace 1``. Lines before it
give the input digest, ``machine.ref_ms`` and, with ``--trace 0``, the
end-to-end metrics as measured (``raw``). Everything the run writes goes
under ``perfbench/.work/`` and is removed when it ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)

WORKLOADS = ("pages_agent", "service_http", "spark_table")


def _benchmark_spec() -> dict:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return json.load(f)


def in_unit(value: float, unit: str, declared: str, ref_ms: float) -> float:
    """Express a measured value in the unit ``BENCHMARK.json`` declares.

    ``ref`` and ``MB/ref`` count time in durations of the reference
    computation (``machine.ref_ms``) timed between the operations of the
    same run, which takes the machine's speed during the run out of the
    figure: a latency in ``ref`` is ms / ref_ms, a rate in ``MB/ref`` is
    the MB protected in one reference duration.
    """
    if declared == unit:
        return value
    if (unit, declared) == ("ms", "ref"):
        return value / ref_ms
    if (unit, declared) == ("MB/s", "MB/ref"):
        return value * ref_ms / 1e3
    raise SystemExit(f"cannot express {unit} in {declared}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its server or Spark and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    # process start, on the clock set-up time is measured against
    from common import process_start_boottime

    t_start = process_start_boottime(os.getpid())
    # a fresh temp directory per run: the program's native helper is
    # compiled into it on first import, so set-up always pays the compile
    # and never depends on what an earlier run left behind
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [REPO, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    sys.path.insert(0, REPO)
    try:
        # the program under test: without it, fail before any set-up
        import databatchprotectionservice_spark  # noqa: F401

        if args.workload == "spark_table":
            import spark_table

            result = spark_table.run(args.seed, args.seconds, bool(args.trace), work, t_start)
        else:
            import pages

            result = pages.run(args.workload, args.seed, args.seconds, bool(args.trace), work, t_start)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print(f"machine.ref_ms={result['ref_ms']}")
    for err in result["errors"]:
        print(f"check failed: {err}", file=sys.stderr)
    spec = _benchmark_spec()
    if args.trace:
        names = [m["name"] for m in spec["per_layer"]]
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        layers = result["layers"]
        metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": units[n]} for n in names}
    else:
        raw = {n: {"value": float(v), "unit": u} for n, (v, u) in result["metrics"].items()}
        print("raw " + json.dumps(raw))
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        if set(raw) != set(units):
            raise SystemExit(f"metric set {sorted(raw)} != {sorted(units)}")
        metrics = {n: {"value": in_unit(m["value"], m["unit"], units[n], result["ref_ms"]), "unit": units[n]}
                   for n, m in raw.items()}
    print(json.dumps({
        "correct": bool(result["correct"]),
        "attempted": int(result["attempted"]),
        "failed": int(result["failed"]),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
