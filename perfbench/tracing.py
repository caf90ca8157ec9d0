"""Spans recorded around the package's public functions, from outside.

`instrument` replaces each traced function with a wrapper that records
a span (name, start, end, parent, request id) and restores the original
on `Tracer.restore`. Spans stay in memory; `dump` writes them out with
each span's self time (its duration minus the time its children cover).
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    idx: int
    name: str
    start: float
    parent: int | None
    request: str | None
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._restore: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def request(self, rid: str | None):
        """Spans opened by this thread inside the block carry `rid`."""
        prev = getattr(self._local, "request", None)
        self._local.request = rid
        try:
            yield
        finally:
            self._local.request = prev

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        with self._lock:
            sp = Span(len(self.spans), name, time.perf_counter(),
                      stack[-1] if stack else None,
                      getattr(self._local, "request", None))
            self.spans.append(sp)
        stack.append(sp.idx)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Trace every call of `owner.attr`; `after(span, args, result)`
        may add attributes to the span."""
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name) as sp:
                out = orig(*args, **kwargs)
                if after is not None:
                    after(sp, args, out)
                return out

        setattr(owner, attr, traced)
        self._restore.append((owner, attr, orig))

    def restore(self) -> None:
        while self._restore:
            owner, attr, orig = self._restore.pop()
            setattr(owner, attr, orig)

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def self_ms(self) -> list[float]:
        """Per span: duration minus the union of its children's intervals."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out = []
        for s in self.spans:
            covered, cur_end = 0.0, s.start
            for c in sorted(children.get(s.idx, []), key=lambda c: c.start):
                lo, hi = max(c.start, cur_end), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                cur_end = max(cur_end, c.end)
            out.append(s.ms - covered * 1000.0)
        return out

    def dump(self, path: str, extra: dict) -> None:
        selfs = self.self_ms()
        doc = dict(extra)
        doc["spans"] = [
            {"name": s.name, "start": s.start, "end": s.end, "parent": s.parent,
             "request": s.request, "self_ms": round(m, 3), **s.attrs}
            for s, m in zip(self.spans, selfs)
        ]
        with open(path, "w") as fh:
            json.dump(doc, fh)


def instrument(tracer: Tracer) -> None:
    """Wrap the package functions each layer exposes. Call sites look the
    names up at call time (module attributes, class attributes), so the
    wrappers see every call."""
    from vectordb_from_scratch_spark import cli
    from vectordb_from_scratch_spark.operators import ann, crud, knn, store
    from vectordb_from_scratch_spark.plans import registry
    from vectordb_from_scratch_spark.sources import persistence

    vs = store.VectorStore
    for meth in ("search_batch", "search_with_filter", "get", "get_metadata",
                 "insert_batch", "delete"):
        tracer.wrap(vs, meth, f"store.{meth}")
    tracer.wrap(vs, "_query_df", "store.query_df")
    tracer.wrap(store, "compile_filter", "filters.compile_filter")
    tracer.wrap(knn, "knn", "knn.knn")
    tracer.wrap(knn, "_numpy_topk_kernel", "knn.strategy_numpy")
    for fn in ("build_ivf", "ivf_sq8_index", "ann_knn_ivf_sq8", "ann_knn_srp"):
        tracer.wrap(ann, fn, f"ann.{fn}")
    tracer.wrap(crud, "upsert", "crud.upsert")
    tracer.wrap(crud, "delete_ids", "crud.delete_ids")
    tracer.wrap(cli, "_save", "persistence.save")
    tracer.wrap(cli, "_load", "persistence.load")

    def written(sp, args, _out):
        sp.attrs["bytes"] = dir_bytes(args[1])

    tracer.wrap(persistence, "overwrite_via_rename", "persistence.overwrite_via_rename",
                after=written)
    tracer.wrap(registry, "load_table", "sources.load_table")
