"""Benchmark self-test at tiny sizes, in one Spark session.

    python3 perfbench/selftest.py

For every workload it checks that an untraced run emits every
end-to-end metric of BENCHMARK.json with its unit, that a traced run
emits every per-layer metric with its unit, and that an injected wrong
answer is counted as a failed operation. It also checks that every
per-layer metric is mapped in spec.json to the end-to-end metric and
workload it should move, and that run.py fails without printing a
result when the package is absent. Exits 1 on the first failed check.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import run  # sets sys.path to the checkout root

import box

SCALE = 0.05   # 1,000 serve vectors, 260 docs and vectors
SECONDS = 2.0


def check(cond: bool, msg: str) -> None:
    if not cond:
        print(f"selftest FAILED: {msg}", flush=True)
        sys.exit(1)


def check_mapping(bench: dict, spec: dict) -> None:
    e2e = {m["name"] for m in bench["end_to_end"]}
    layer_names = [m["name"] for m in bench["per_layer"]]
    for name in layer_names:
        entry = spec["per_layer"].get(name)
        check(entry is not None, f"per-layer metric {name} has no entry in spec.json")
        check(entry["moves"] in e2e, f"{name} moves {entry['moves']!r}, not an end-to-end metric")
        check(entry["workload"] in spec["workloads"], f"{name} names unknown workload {entry['workload']!r}")
    check(set(spec["per_layer"]) == set(layer_names),
          f"spec.json maps metrics BENCHMARK.json does not list: {set(spec['per_layer']) - set(layer_names)}")
    listed = [w["name"] for w in bench["workloads"]]
    check(set(listed) <= set(run.WORKLOADS), f"BENCHMARK.json lists unknown workloads {listed}")
    check(set(spec["workloads"]) == set(run.WORKLOADS), "spec.json and run.py name different workloads")
    for name, wl in spec["workloads"].items():
        check(wl["in_benchmark_json"] == (name in listed), f"{name}: in_benchmark_json is stale")
    for metric, per_wl in spec["end_to_end"].items():
        check(metric in e2e, f"spec.json describes unknown end-to-end metric {metric}")
    check(e2e == set(spec["end_to_end"]), "an end-to-end metric lacks a description in spec.json")


def check_line(line: dict, section: dict[str, str], nonzero: bool, what: str) -> None:
    check(set(line) == {"correct", "attempted", "failed", "metrics"}, f"{what}: result keys {set(line)}")
    check(isinstance(line["attempted"], int) and line["attempted"] >= 1, f"{what}: attempted")
    check(set(line["metrics"]) == set(section), f"{what}: metrics differ from BENCHMARK.json: "
          f"{set(line['metrics']) ^ set(section)}")
    for name, m in line["metrics"].items():
        check(m["unit"] == section[name], f"{what}: {name} unit {m['unit']!r}")
        check(isinstance(m["value"], float), f"{what}: {name} value {m['value']!r}")
        if nonzero:
            check(m["value"] != 0.0, f"{what}: end-to-end metric {name} is 0")
    json.dumps(line, allow_nan=False)


def check_bare_checkout(work: str) -> None:
    """Only BENCHMARK.json and perfbench/: run.py must fail without a result."""
    bare = os.path.join(work, "bare")
    shutil.copytree(run.HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("work*", "out", "__pycache__"))
    shutil.copy(os.path.join(run.ROOT, "BENCHMARK.json"), bare)
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "pipeline_batch",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=bare, capture_output=True, text=True, timeout=170)
    check(p.returncode != 0, "run.py exited 0 without the package")
    check('"metrics"' not in p.stdout, "run.py printed a result without the package")


def main() -> int:
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    with open(os.path.join(run.HERE, "spec.json")) as fh:
        spec = json.load(fh)
    check_mapping(bench, spec)
    e2e, layers = run.units("end_to_end"), run.units("per_layer")

    work = os.path.join(run.HERE, "work-selftest")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    check_bare_checkout(work)
    spark = box.build_session(os.path.join(work, "spark"))
    try:
        for name in run.WORKLOADS:
            for trace in (False, True):
                res = run.run_workload(spark, name, 7, SECONDS, trace, work, SCALE)
                line = run.result_line(res, trace, sum(box.peak_rss_mb(spark).values()))
                what = f"{name} trace={int(trace)}"
                check_line(line, layers if trace else e2e, not trace, what)
                check(line["correct"] and line["failed"] == 0,
                      f"{what}: {line['failed']} failed: "
                      f"{[o.error for o in res['checked'] if not o.ok][:3]}")
                print(f"selftest ok: {what}, {line['attempted']} ops", flush=True)
            res = run.run_workload(spark, name, 7, SECONDS, False, work, SCALE, inject_wrong=True)
            line = run.result_line(res, False, sum(box.peak_rss_mb(spark).values()))
            check(line["failed"] >= 1 and not line["correct"],
                  f"{name}: an injected wrong answer was not counted as failed")
            print(f"selftest ok: {name} counts {line['failed']} injected wrong answers", flush=True)
    finally:
        box.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
