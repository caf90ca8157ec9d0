"""The batch LLM-data pipeline workload: registry queries into the
`noop` sink in one session, over seeded `documents` and `embeddings`
tables. Every output is checked against the query's DuckDB oracle twin.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd

import gen
from measure import Op, PhaseClock, median, span_ms

# ann_ivf_pq_knn and dedup_semantic cost too much per run to be here
# (spec.json "left_out"); ann_srp_knn keeps the ANN layer in the pass
QUERIES = (
    "knn_batch100", "ann_srp_knn", "dedup_neardup", "text_tfidf_top_terms",
    "hybrid_search_rrf", "pipeline_corpus_prep_v2",
)
FLOAT_TOL = 1.5e-6   # one unit in the 6th decimal the queries round to, plus slack


@dataclass(frozen=True)
class PipelineWorkload:
    name: str
    n_docs: int
    n_vectors: int
    near_dup_share: float


PIPELINE_BATCH = PipelineWorkload("pipeline_batch", 5_200, 5_200, 0.05)


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns), kind="stable").reset_index(drop=True)


def compare_oracle(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """Order-insensitive equality; floats within FLOAT_TOL."""
    if len(got) != len(want):
        return f"{len(got)} rows, oracle {len(want)}"
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)}, oracle {sorted(want.columns)}"
    g, w = _canon(got), _canon(want)
    for c in g.columns:
        if g[c].dtype.kind == "f" or w[c].dtype.kind == "f":
            gv, wv = g[c].astype(float).to_numpy(), w[c].astype(float).to_numpy()
            bad = ~((np.abs(gv - wv) <= FLOAT_TOL) | (np.isnan(gv) & np.isnan(wv)))
        else:
            bad = (g[c].to_numpy() != w[c].to_numpy())
        if bad.any():
            i = int(np.flatnonzero(bad)[0])
            return f"column {c}: {int(bad.sum())} values differ (row {i}: {g[c][i]!r} vs {w[c][i]!r})"
    return None


def _embeddings(data_dir: str) -> tuple[np.ndarray, np.ndarray]:
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(data_dir, "embeddings.parquet")).to_pandas()
    return t["vec_id"].to_numpy(), np.stack(t["embedding"].to_numpy()).astype(np.float64)


def probe_recalls(out: pd.DataFrame, ids: np.ndarray, X: np.ndarray, k: int = 10) -> list[float]:
    """Per probe of a kNN output (query_id, id): recall@k against numpy
    brute force over the same vectors."""
    pos = {int(v): i for i, v in enumerate(ids)}
    recalls = []
    for qid, grp in out.groupby("query_id"):
        d = np.sqrt(((X - X[pos[int(qid)]]) ** 2).sum(axis=1))
        truth = set(ids[np.lexsort((ids, d))[:k]].tolist())
        recalls.append(len(truth & set(grp["id"].tolist())) / k)
    return recalls


KNN_OUTPUTS = ("knn_batch100", "ann_srp_knn")


class Pipeline:
    def __init__(self, spark, data_dir: str, inject_wrong: bool = False) -> None:
        self.spark, self.data_dir, self.inject_wrong = spark, data_dir, inject_wrong

    def run_query(self, name: str) -> tuple[float, float, pd.DataFrame]:
        """(build seconds, exec seconds, output). The output is persisted
        while the noop write runs, so reading it back costs no second
        execution and stays out of the timing."""
        from vectordb_from_scratch_spark.operators import cache, dedup
        from vectordb_from_scratch_spark.plans.registry import QUERIES as REG

        df = None
        try:
            t0 = time.perf_counter()
            df = REG[name].spark(self.spark, self.data_dir)
            t1 = time.perf_counter()
            df = df.persist()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            out = df.toPandas()
        finally:
            if df is not None:
                df.unpersist()
            dedup.release_caches()
            cache.sweep_persistent_rdds(self.spark, all_rdds=True)
        if self.inject_wrong:
            out = out.iloc[1:]
        return t1 - t0, t2 - t1, out

    def run_pass(self, label: str, tracer=None) -> tuple[list[Op], dict, dict]:
        ops, outputs, timing = [], {}, {}
        sc = self.spark.sparkContext
        for name in QUERIES:
            sc.setJobGroup(f"{label}-{name}", "perfbench query")
            start_ms = time.time() * 1000.0
            if tracer is not None:
                with tracer.request(name), tracer.span(f"registry.{name}"):
                    build, exe, out = self.run_query(name)
            else:
                build, exe, out = self.run_query(name)
            timing[name] = {"build_s": build, "exec_s": exe,
                            "window_ms": (start_ms, time.time() * 1000.0)}
            ops.append(Op(name, (build + exe) * 1000.0, True, request=name, results=len(out)))
            outputs[name] = out
        sc.setLocalProperty("spark.jobGroup.id", None)
        return ops, outputs, timing


def check_outputs(ops: list[Op], outputs: dict, data_dir: str) -> dict[str, list[float]]:
    """Marks each op failed when its output differs from the query's
    DuckDB oracle twin; returns per-probe recall@10 of each kNN query.
    DuckDB time stays outside every timed region."""
    import duckdb

    from vectordb_from_scratch_spark.plans import registry

    con = duckdb.connect()
    con.sql(f"SET threads TO {len(os.sched_getaffinity(0))}")
    for t in ("documents", "embeddings"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(data_dir, t)}.parquet'")
    try:
        for op in ops:
            op.error = compare_oracle(outputs[op.kind],
                                      con.sql(registry.QUERIES[op.kind].oracle).df())
            op.ok = op.error is None
    finally:
        con.close()
    ids, X = _embeddings(data_dir)
    return {q: probe_recalls(outputs[q], ids, X) for q in KNN_OUTPUTS}


SETUPS = 3


def prepare(wl: PipelineWorkload, seed: int, work: str, scale: float) -> tuple[str, dict]:
    data_dir = os.path.join(work, f"{wl.name}-{seed}")
    shutil.rmtree(data_dir, ignore_errors=True)
    planted = gen.write_pipeline_tables(
        data_dir, seed, int(wl.n_docs * scale), int(wl.n_vectors * scale), wl.near_dup_share)
    return data_dir, planted


def setup_once(spark, data_dir: str) -> float:
    """Open both input tables through the package's source layer and read
    their footers, as a pipeline session starts."""
    from vectordb_from_scratch_spark.sources import load_table

    t0 = time.perf_counter()
    for t in ("documents", "embeddings"):
        load_table(spark, data_dir, t).count()
    return time.perf_counter() - t0


def run(spark, wl: PipelineWorkload, seed: int, seconds: float, trace: bool, work: str,
        scale: float = 1.0, inject_wrong: bool = False) -> dict:
    clock = PhaseClock()
    data_dir, planted = prepare(wl, seed, work, scale)
    clock.lap("prepare")
    setup = [setup_once(spark, data_dir) for _ in range(SETUPS)]
    clock.lap("setup")
    pipe = Pipeline(spark, data_dir, inject_wrong)
    # as many whole passes as fit in `seconds` judged by the last pass,
    # at least one (a cold pass outlasts the default run length)
    ops, outputs, pass_ms = [], {}, []
    t0 = time.perf_counter()
    while not pass_ms or time.perf_counter() - t0 + pass_ms[-1] / 1000.0 <= seconds:
        p_ops, outputs, _ = pipe.run_pass(f"p{len(pass_ms)}")
        pass_ms.append(sum(o.ms for o in p_ops))
        ops += p_ops
    n_pass = len(pass_ms)
    clock.lap("measure")
    recall = check_outputs(ops[-len(QUERIES):], outputs, data_dir)
    for op in ops[:-len(QUERIES)]:
        # earlier passes ran the same plans over the same inputs; their
        # outputs were replaced by the last pass's, which is checked
        op.ok = op.ok and all(o.ok for o in ops[-len(QUERIES):] if o.kind == op.kind)
    clock.lap("check")
    n_rows = int(wl.n_docs * scale) + int(wl.n_vectors * scale)
    out = {
        "ops": ops,
        "checked": ops,
        "metrics": {
            "setup_s": median(setup),
            # the pass is what a batch caller waits for; one query's time
            # is a per-layer number (registry.<query>.build_s + exec_s)
            "op_p50_ms": median(pass_ms),
            "ops_per_s": len(ops) / (sum(o.ms for o in ops) / 1000.0),
            # pooled over every probe of the exact and the SRP query
            "recall_at_10": float(np.mean([r for rs in recall.values() for r in rs])),
        },
        "detail": {
            "setup_samples_s": [round(s, 4) for s in setup],
            "passes": n_pass,
            "pipeline_rows_per_s": n_rows * n_pass / (sum(o.ms for o in ops) / 1000.0),
            "per_query_ms": {o.kind: round(o.ms, 1) for o in ops[-len(QUERIES):]},
            "recall_at_10_by_query": {q: float(np.mean(rs)) for q, rs in recall.items()},
            "planted": planted,
            "input_rows": n_rows,
            "phases_s": clock.laps,
        },
    }
    if trace:
        # the measured pass ran cold; compare the traced pass with a warm
        # untraced one
        warm_ops, _, _ = pipe.run_pass("warm")
        out["layers"], out["spans"] = traced_pass(spark, pipe, warm_ops)
        clock.lap("traced")
    return out


def traced_pass(spark, pipe: Pipeline, untraced: list[Op]):
    """One more pass with spans on; Spark counts per query from the jobs
    submitted inside its time window, so jobs a query submits from its
    own worker threads (which carry no job group) count too."""
    from sparkstats import SparkStats, summarize
    from tracing import Tracer, instrument

    tracer = Tracer()
    instrument(tracer)
    try:
        ops, _, timing = pipe.run_pass("trace", tracer)
    finally:
        tracer.restore()
    stats = SparkStats(spark)
    stats.drain()
    jobs, stages = stats.jobs(), stats.stages()
    layers = {"trace.overhead_pct": 100.0 * (sum(o.ms for o in ops) / sum(o.ms for o in untraced) - 1.0)}
    for name in QUERIES:
        lo, hi = timing[name]["window_ms"]
        s = summarize([j for j in jobs if lo <= j.submitted_ms <= hi], stages)
        layers[f"registry.{name}.build_s"] = timing[name]["build_s"]
        layers[f"registry.{name}.exec_s"] = timing[name]["exec_s"]
        for f in ("jobs", "stages", "tasks", "shuffle_bytes", "spill_bytes", "input_bytes"):
            layers[f"registry.{name}.{f}"] = s[f]
    for name in ("sources.load_table", "knn.knn", "ann.ann_knn_srp"):
        layers[f"{name}.ms"] = span_ms(tracer, name)
    n_knn = len(tracer.by_name("knn.knn"))
    layers["knn.strategy_numpy.calls_per_knn"] = (
        len(tracer.by_name("knn.strategy_numpy")) / n_knn if n_knn else 0.0)
    return layers, tracer
