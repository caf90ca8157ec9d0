"""Shared pieces of a workload run: the op record, percentiles, and the
per-layer metrics read from a traced phase."""

from __future__ import annotations

import math
import statistics
import time
from dataclasses import dataclass, field

from sparkstats import Job, summarize


@dataclass
class Op:
    kind: str
    ms: float
    ok: bool
    error: str | None = None
    request: str | None = None
    results: int = 0          # result rows returned to the caller
    response_bytes: int = 0
    recall: list[float] = field(default_factory=list)


class PhaseClock:
    """Wall time of each phase of a run, for the detail line."""

    def __init__(self) -> None:
        self.laps: dict[str, float] = {}
        self._t = time.perf_counter()

    def lap(self, name: str) -> None:
        now = time.perf_counter()
        self.laps[name] = round(now - self._t, 2)
        self._t = now


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def tail(xs) -> dict | None:
    """The highest whole percentile with at least ten samples above it,
    with that count; None when there are too few samples."""
    v = sorted(xs)
    for p in range(99, 0, -1):
        idx = max(0, math.ceil(p / 100.0 * len(v)) - 1)
        beyond = len(v) - idx - 1
        if beyond >= 10:
            return {"pct": p, "ms": round(v[idx], 3), "beyond": beyond, "n": len(v)}
    return None


def op_breakdown(ops: list[Op]) -> dict:
    out = {}
    for kind in sorted({o.kind for o in ops}):
        ms = [o.ms for o in ops if o.kind == kind]
        out[kind] = {"n": len(ms), "p50_ms": round(median(ms), 3), "tail": tail(ms)}
    return out


def spark_per_group(jobs: list[Job], stages: dict, groups) -> dict[str, dict]:
    by_group: dict[str, list[Job]] = {}
    for j in jobs:
        if j.group in groups:
            by_group.setdefault(j.group, []).append(j)
    return {g: summarize(by_group.get(g, []), stages) for g in groups}


def span_ms(tracer, name: str) -> float:
    """Median inclusive duration per call of one traced function."""
    return median(s.ms for s in tracer.by_name(name))
