"""Run one workload over several seeds and print, per metric, the median
and the quartile spread as a share of the median (the steadiness test a
bound must pass).

    python3 perfbench/spread.py --workload pipeline_batch --seeds 1-10 [--seconds 15] [--trace 0]

Each run is a separate process, as the benchmark is normally run.
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


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    values: dict[str, list[float]] = {}
    for seed in seeds(args.seeds):
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(args.seconds), "--trace", str(args.trace)],
            cwd=ROOT, capture_output=True, text=True, timeout=900)
        *_, detail, last = p.stdout.strip().splitlines()
        line, box = json.loads(last), json.loads(detail)["detail"]["box"]
        print(f"seed {seed}: correct={line['correct']} attempted={line['attempted']} "
              f"failed={line['failed']} calib_ms={box['calib_ms']} loadavg={box['loadavg']}",
              flush=True)
        for name, m in line["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    for name, vs in values.items():
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (med, med, med)
        spread = (q3 - q1) / med if med else float("nan")
        bound = bounds.get(name)
        flag = "" if bound is None else ("  OK" if spread <= bound / 3 else "  WIDE")
        print(f"{name:40s} median {med:12.4f}  spread {spread:6.3f}"
              + ("" if bound is None else f"  bound {bound}") + flag)
    return 0


if __name__ == "__main__":
    sys.exit(main())
