"""Benchmark entry point.

    python3 perfbench/run.py --workload serve_write_mix --seed 1 --seconds 12 --trace 0

Run from the repository root. Prints a detail line (per-op latencies
with their tail percentile, box fingerprint, failures) and, last, one
JSON line {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones of BENCHMARK.json; with --trace 1 a
traced phase follows the measured one and the metrics are the per-layer
ones, and the spans go to perfbench/out/. Workloads, metrics and the
layer each per-layer metric should move are described in
perfbench/spec.json.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import vectordb_from_scratch_spark  # noqa: E402,F401  (fails fast outside a checkout)

import box  # noqa: E402
import pipeline  # noqa: E402
import serve  # noqa: E402

WORKLOADS = {
    serve.SERVE_READ.name: serve.SERVE_READ,
    serve.SERVE_WRITE_MIX.name: serve.SERVE_WRITE_MIX,
    pipeline.PIPELINE_BATCH.name: pipeline.PIPELINE_BATCH,
}


def units(section: str) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[section]}


def run_workload(spark, name: str, seed: int, seconds: float, trace: bool, work: str,
                 scale: float = 1.0, inject_wrong: bool = False) -> dict:
    wl = WORKLOADS[name]
    if isinstance(wl, serve.ServeWorkload):
        return serve.run(spark, wl, seed, seconds, trace, work,
                         n_vectors=max(200, int(wl.n_vectors * scale)), inject_wrong=inject_wrong)
    return pipeline.run(spark, wl, seed, seconds, trace, work, scale=scale,
                        inject_wrong=inject_wrong)


def result_line(res: dict, trace: bool, peak_rss_mb: float) -> dict:
    """The last line: every end-to-end (or, traced, per-layer) metric of
    BENCHMARK.json with its unit. Metrics a workload does not exercise
    read 0 in the per-layer set."""
    checked = res["checked"]
    failed = sum(1 for o in checked if not o.ok)
    if trace:
        values = res["layers"]
        metrics = {n: {"value": float(values.get(n, 0.0)), "unit": u}
                   for n, u in units("per_layer").items()}
    else:
        values = dict(res["metrics"], peak_rss_mb=peak_rss_mb)
        metrics = {n: {"value": float(values[n]), "unit": u}
                   for n, u in units("end_to_end").items()}
    return {"correct": failed == 0, "attempted": len(checked), "failed": failed,
            "metrics": metrics}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(HERE, "work")
    out_dir = os.path.join(HERE, "out")
    shutil.rmtree(work, ignore_errors=True)
    fp = box.fingerprint()
    spark = box.build_session(work)
    try:
        res = run_workload(spark, args.workload, args.seed, args.seconds, bool(args.trace), work)
        rss = box.peak_rss_mb(spark)
        line = result_line(res, bool(args.trace), sum(rss.values()))
        detail = dict(res["detail"], workload=args.workload, seed=args.seed, box=fp,
                      peak_rss_mb={k: round(v, 1) for k, v in rss.items()},
                      failures=[f"{o.kind}: {o.error}" for o in res["checked"] if not o.ok][:20])
        if args.trace:
            os.makedirs(out_dir, exist_ok=True)
            path = os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json")
            res["spans"].dump(path, {"detail": detail, "layers": res["layers"]})
            detail["spans_file"] = os.path.relpath(path, ROOT)
    finally:
        box.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
