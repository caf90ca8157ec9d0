"""The HTTP serve workloads: closed-loop clients against
`server.make_server` over a snapshot directory, as the CLI's `serve`
command runs it. Every answer is checked against numpy over the
benchmark's own mirror of the store state.
"""

from __future__ import annotations

import http.client
import json
import math
import os
import shutil
import threading
import time
from dataclasses import dataclass

import numpy as np

import gen
from measure import Op, PhaseClock, median, op_breakdown, spark_per_group, span_ms
from tracing import dir_bytes

# distances come back from the numpy kernel path (|v|²+|q|²-2v·q); the
# mirror computes the difference directly, so allow kernel-path rounding
DIST_TOL = 1e-6
K = 10
BATCH = 16


@dataclass(frozen=True)
class ServeWorkload:
    name: str
    n_vectors: int
    clients: int
    index: str
    mix: tuple[tuple[str, int], ...]   # (op, percent)


SERVE_READ = ServeWorkload(
    "serve_read", 20_000, 2, "exact",
    (("search", 60), ("filtered_search", 20), ("batch_search", 10), ("get", 10)),
)
SERVE_WRITE_MIX = ServeWorkload(
    "serve_write_mix", 20_000, 1, "ivf_sq8",
    (("search", 55), ("filtered_search", 15), ("insert", 20), ("batch_insert", 5),
     ("delete", 5)),
)
SEARCH_OPS = ("search", "filtered_search", "batch_search")
WRITE_OPS = ("insert", "batch_insert", "delete")


class Mirror:
    """The state every acknowledged write should have produced."""

    def __init__(self, corpus: gen.Corpus) -> None:
        self.rows: dict[str, tuple[np.ndarray, str]] = {
            i: (v, t) for i, v, t in zip(corpus.ids, corpus.vectors, corpus.tenants)
        }
        self.ids = list(self.rows)
        self._pos = {i: n for n, i in enumerate(self.ids)}
        self._cache = None

    def upsert(self, vid: str, vec, tenant: str) -> None:
        if vid not in self.rows:
            self._pos[vid] = len(self.ids)
            self.ids.append(vid)
        self.rows[vid] = (np.asarray(vec, dtype=np.float64), tenant)
        self._cache = None

    def delete(self, vid: str) -> None:
        n = self._pos.pop(vid)
        last = self.ids.pop()
        if last != vid:
            self.ids[n] = last
            self._pos[last] = n
        del self.rows[vid]
        self._cache = None

    def _arrays(self):
        if self._cache is None:
            ids = np.array(self.ids)
            self._cache = (ids, np.stack([self.rows[i][0] for i in self.ids]),
                           np.array([self.rows[i][1] for i in self.ids]))
        return self._cache

    def exact(self, q, k: int, flt: dict | None) -> list[tuple[str, float]]:
        ids, X, tenants = self._arrays()
        mask = np.ones(len(ids), bool) if flt is None else gen.filter_mask(flt, tenants)
        d = np.sqrt(((X[mask] - np.asarray(q)) ** 2).sum(axis=1))
        order = np.lexsort((ids[mask], d))[:k]
        return [(str(ids[mask][i]), float(d[i])) for i in order]

    def user_bytes(self) -> int:
        """Live id + vector (8 bytes a component) + metadata bytes."""
        return sum(len(i.encode()) + 8 * len(v) + len("tenant") + len(t.encode())
                   for i, (v, t) in self.rows.items())


def check_search(mirror: Mirror, q, k: int, flt, results, exact: bool):
    """(error or None, recall@k). With `exact`, the ids must be a true
    top-k (ties within DIST_TOL allowed); otherwise each returned row
    must be a live, filter-matching id at its true distance."""
    truth = mirror.exact(q, k, flt)
    recall = len({r["id"] for r in results} & {i for i, _ in truth}) / max(1, len(truth))
    if len(results) != len(truth):
        return f"{len(results)} rows, expected {len(truth)}", recall
    prev = -1.0
    seen = set()
    for r in results:
        row = mirror.rows.get(r["id"])
        if row is None or r["id"] in seen:
            return f"id {r['id']!r} not live or repeated", recall
        if flt is not None and not gen.filter_mask(flt, np.array([row[1]]))[0]:
            return f"id {r['id']!r} fails the filter", recall
        true_d = float(np.sqrt(((row[0] - np.asarray(q)) ** 2).sum()))
        if abs(r["distance"] - true_d) > DIST_TOL:
            return f"distance {r['distance']} for {r['id']!r}, true {true_d}", recall
        if r["distance"] < prev - DIST_TOL:
            return "results not sorted by distance", recall
        if exact and true_d > truth[-1][1] + DIST_TOL:
            return f"id {r['id']!r} is not among the true top-{k}", recall
        prev = r["distance"]
        seen.add(r["id"])
    return None, recall


class Client:
    def __init__(self, port: int) -> None:
        self.conn = http.client.HTTPConnection("127.0.0.1", port, timeout=170)

    def call(self, method: str, path: str, body=None, rid: str | None = None):
        headers = {"Content-Type": "application/json"}
        if rid is not None:
            headers["X-Request-Id"] = rid
        payload = json.dumps(body) if body is not None else None
        t0 = time.perf_counter()
        try:
            self.conn.request(method, path, body=payload, headers=headers)
            resp = self.conn.getresponse()
            status, data = resp.status, resp.read()
        except (OSError, http.client.HTTPException) as exc:
            # a dropped connection is a failed request, not a crashed run
            self.conn.close()
            status, data = 0, repr(exc).encode()
        return status, data, (time.perf_counter() - t0) * 1000.0

    def close(self) -> None:
        self.conn.close()


class Session:
    """One server over the data dir, its mirror, and the op generators."""

    def __init__(self, wl: ServeWorkload, spark, data_dir: str, corpus: gen.Corpus,
                 mirror: Mirror, seed: int, inject_wrong: bool) -> None:
        self.wl, self.spark, self.data_dir = wl, spark, data_dir
        self.corpus, self.mirror, self.seed = corpus, mirror, seed
        self.inject_wrong = inject_wrong
        self.httpd = None
        self._thread = None
        self._new_ids = 0

    # -- server lifecycle ----------------------------------------------------

    def start(self) -> tuple[float, int | None]:
        """Load the snapshot and start serving, as `serve` does; returns
        the seconds until /health answers and the row count it reports."""
        from vectordb_from_scratch_spark import cli, server

        t0 = time.perf_counter()
        store = cli._load(self.spark, self.data_dir, "euclidean")
        if self.wl.index == "ivf_sq8":
            store = store.with_ivf_sq8()
        self.httpd = server.make_server(server.AppState(store, data_dir=self.data_dir))
        self._thread = threading.Thread(target=self.httpd.serve_forever, daemon=True)
        self._thread.start()
        c = Client(self.port)
        status, data, _ = c.call("GET", "/health")
        c.close()
        elapsed = time.perf_counter() - t0
        return elapsed, json.loads(data)["vector_count"] if status == 200 else None

    @property
    def port(self) -> int:
        return self.httpd.server_address[1]

    def stop(self) -> None:
        if self.httpd is not None:
            self.httpd.shutdown()
            self.httpd.server_close()
            self._thread.join(timeout=60)
            self.httpd = None

    # -- ops -----------------------------------------------------------------

    def _new_id(self) -> str:
        self._new_ids += 1
        return f"n{self._new_ids:06d}"

    def run_op(self, kind: str, rng: np.random.Generator, client: Client, rid: str) -> Op:
        m = self.mirror
        exact = self.wl.index == "exact"
        if kind in ("search", "filtered_search"):
            q = self.corpus.query(rng)
            flt = gen.random_filter(rng) if kind == "filtered_search" else None
            body = {"vector": q, "k": K}
            if flt is not None:
                body["filter"] = flt
            status, data, ms = client.call("POST", "/search", body, rid)
            op = Op(kind, ms, status == 200, request=rid, response_bytes=len(data))
            if op.ok:
                res = json.loads(data)
                if self.inject_wrong:
                    res = res[::-1]
                op.results = len(res)
                op.error, recall = check_search(m, q, K, flt, res, exact)
                op.recall.append(recall)
        elif kind == "batch_search":
            qs = [self.corpus.query(rng) for _ in range(BATCH)]
            body = {"queries": [{"vector": q, "k": K} for q in qs]}
            status, data, ms = client.call("POST", "/search/batch", body, rid)
            op = Op(kind, ms, status == 200, request=rid, response_bytes=len(data))
            if op.ok:
                res = json.loads(data)
                op.results = sum(len(r) for r in res)
                for q, r in zip(qs, res):
                    err, recall = check_search(m, q, K, None, r, exact)
                    op.recall.append(recall)
                    op.error = op.error or err
                if len(res) != BATCH:
                    op.error = f"{len(res)} result lists for {BATCH} queries"
        elif kind == "get":
            vid = m.ids[rng.integers(0, len(m.ids))]
            status, data, ms = client.call("GET", f"/vectors/{vid}", None, rid)
            op = Op(kind, ms, status == 200, request=rid, response_bytes=len(data), results=1)
            if op.ok:
                got = json.loads(data)
                vec, tenant = m.rows[vid]
                if got["vector"] != vec.tolist() or got.get("metadata") != {"tenant": tenant}:
                    op.error = f"GET {vid} returned another vector or metadata"
        elif kind == "insert":
            # half new ids, half overwrites of a live id
            vid = self._new_id() if rng.random() < 0.5 else m.ids[rng.integers(0, len(m.ids))]
            vec, tenant = self.corpus.query(rng), f"t{rng.integers(0, gen.TENANTS)}"
            body = {"id": vid, "vector": vec, "metadata": {"tenant": tenant}}
            status, data, ms = client.call("POST", "/vectors", body, rid)
            op = Op(kind, ms, status == 201, request=rid, response_bytes=len(data), results=1)
            if op.ok:
                m.upsert(vid, vec, tenant)
        elif kind == "batch_insert":
            items = [(self._new_id(), self.corpus.query(rng), f"t{rng.integers(0, gen.TENANTS)}")
                     for _ in range(BATCH)]
            body = {"vectors": [{"id": i, "vector": v, "metadata": {"tenant": t}}
                                for i, v, t in items]}
            status, data, ms = client.call("POST", "/vectors/batch", body, rid)
            op = Op(kind, ms, status == 201, request=rid, response_bytes=len(data),
                    results=BATCH)
            if op.ok:
                if json.loads(data).get("inserted") != BATCH:
                    op.error = f"batch insert acknowledged {data[:100]!r}"
                for i, v, t in items:
                    m.upsert(i, v, t)
        elif kind == "delete":
            vid = m.ids[rng.integers(0, len(m.ids))]
            status, data, ms = client.call("DELETE", f"/vectors/{vid}", None, rid)
            op = Op(kind, ms, status == 200, request=rid, response_bytes=len(data), results=1)
            if op.ok:
                m.delete(vid)
        else:
            raise ValueError(kind)
        if not op.ok:
            op.error = f"HTTP {status}: {data[:200]!r}"
        elif op.error is not None:
            op.ok = False
        return op

    def _clients(self, work) -> list[list[Op]]:
        """Run `work(cid, client, ops)` on one thread per client; returns
        each client's ops."""
        ops: list[list[Op]] = [[] for _ in range(self.wl.clients)]
        errors: list[BaseException] = []

        def body(cid: int) -> None:
            c = Client(self.port)
            try:
                work(cid, c, ops[cid])
            except Exception as exc:  # re-raised below, in the caller's thread
                errors.append(exc)
            finally:
                c.close()

        threads = [threading.Thread(target=body, args=(i,)) for i in range(self.wl.clients)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        if errors:
            raise errors[0]
        return ops

    def warm_up(self) -> list[Op]:
        """One op of each kind in the mix, untimed, dealt round-robin to
        the clients, which run their share concurrently."""
        kinds = [kind for kind, _ in self.wl.mix]

        def share(cid: int, c: Client, out: list[Op]) -> None:
            rng = np.random.default_rng([self.seed, 50 + cid])
            for kind in kinds[cid::self.wl.clients]:
                out.append(self.run_op(kind, rng, c, f"warm-{kind}"))

        return [o for per in self._clients(share) for o in per]

    def write_probe(self) -> list[Op]:
        """One write of each kind (two upserts), so a traced run of a
        read-only mix still measures the write path."""
        rng = np.random.default_rng([self.seed, 60])
        c = Client(self.port)
        try:
            return [self.run_op(kind, rng, c, f"probe-{i}")
                    for i, kind in enumerate(("insert", "insert", "batch_insert", "delete"))]
        finally:
            c.close()

    def phase(self, seconds: float, label: str) -> tuple[list[Op], float]:
        """Closed loop: each client sends its next request when the last
        one returned, until `seconds` have passed. The clients draw op
        kinds from one shared deck holding the mix in exact proportions,
        reshuffled when empty, so a short run still sees the stated mix.
        Returns the ops and the completed ops per second of reply time."""
        unit = math.gcd(*(p for _, p in self.wl.mix))
        deck_rng = np.random.default_rng([self.seed, 99, ord(label[0])])
        deck: list[str] = []
        deck_lock = threading.Lock()
        deadline = time.perf_counter() + seconds

        def draw() -> str:
            with deck_lock:
                if not deck:
                    deck.extend(deck_rng.permutation(
                        [k for k, p in self.wl.mix for _ in range(p // unit)]).tolist())
                return deck.pop()

        def loop(cid: int, c: Client, out: list[Op]) -> None:
            rng = np.random.default_rng([self.seed, 100 + cid, ord(label[0])])
            n = 0
            while time.perf_counter() < deadline:
                out.append(self.run_op(draw(), rng, c, f"{label}-{cid}-{n}"))
                n += 1

        ops = self._clients(loop)
        # each client's completed ops over the time it spent waiting for
        # replies, summed: no partial last op, no checking time
        rate = sum(len(per) / (sum(o.ms for o in per) / 1000.0) for per in ops if per)
        return [o for per in ops for o in per], rate

    def durability(self) -> list[Op]:
        """Restart a fresh server over the same data dir and read back
        every acknowledged write: the id list must equal the mirror's
        and every live row must hold the mirror's vector and tenant."""
        from vectordb_from_scratch_spark import cli

        self.stop()
        _, count = self.start()
        c = Client(self.port)
        status, data, ms = c.call("GET", "/vectors")
        c.close()
        op = Op("readback", ms, status == 200, results=len(self.mirror.rows))
        ops = [op]
        if not op.ok:
            op.error = f"HTTP {status}"
            return ops
        if count != len(self.mirror.rows) or sorted(json.loads(data)) != sorted(self.mirror.ids):
            op.ok, op.error = False, "id list differs from the acknowledged writes"
        rows = cli._load(self.spark, self.data_dir, "euclidean").df.toPandas()
        for vid, emb, meta in zip(rows["id"], rows["embedding"], rows["metadata"]):
            want = self.mirror.rows.get(vid)
            if want is None:
                continue
            if list(emb) != want[0].tolist() or dict(meta) != {"tenant": want[1]}:
                ops.append(Op("readback", 0.0, False, f"row {vid} differs after restart"))
        return ops


def prepare(spark, wl: ServeWorkload, seed: int, n_vectors: int, work: str):
    """Generate the corpus and let the program write its snapshot."""
    from vectordb_from_scratch_spark import cli
    from vectordb_from_scratch_spark.operators.store import VectorStore

    corpus = gen.Corpus(seed, n_vectors)
    root = os.path.join(work, f"{wl.name}-{seed}")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    imp = os.path.join(root, "import.parquet")
    corpus.write_import(imp)
    data_dir = os.path.join(root, "db")
    os.makedirs(data_dir)
    cli._save(VectorStore(spark, spark.read.parquet(imp), gen.DIM, "euclidean"), data_dir)
    return corpus, data_dir


SETUPS = 3


def run(spark, wl: ServeWorkload, seed: int, seconds: float, trace: bool, work: str,
        n_vectors: int | None = None, inject_wrong: bool = False) -> dict:
    clock = PhaseClock()
    corpus, data_dir = prepare(spark, wl, seed, n_vectors or wl.n_vectors, work)
    mirror = Mirror(corpus)
    sess = Session(wl, spark, data_dir, corpus, mirror, seed, inject_wrong)
    clock.lap("prepare")
    try:
        setup = []
        for i in range(SETUPS):
            if i:
                sess.stop()
            elapsed, count = sess.start()
            if count != len(mirror.rows):
                raise RuntimeError(f"/health reports {count} rows, the snapshot holds "
                                   f"{len(mirror.rows)}")
            setup.append(elapsed)
        clock.lap("setup")
        warm = sess.warm_up()
        clock.lap("warm_up")
        ops, rate = sess.phase(seconds, "m")
        clock.lap("measure")
        checked = warm + ops
        layers = None
        if trace:
            layers, tracer, traced_ops = traced_phase(spark, sess, seconds, ops)
            checked += traced_ops
            clock.lap("traced")
        elif any(kind in WRITE_OPS for kind, _ in wl.mix):
            checked += sess.durability()
            clock.lap("durability")
    finally:
        sess.stop()
    recalls = [r for o in ops for r in o.recall]
    out = {
        "ops": ops,
        "checked": checked,
        "metrics": {
            "setup_s": median(setup),
            "op_p50_ms": median(o.ms for o in ops),
            "ops_per_s": rate,
            "recall_at_10": float(np.mean(recalls)) if recalls else 0.0,
        },
        "detail": {
            "setup_samples_s": [round(s, 4) for s in setup],
            "per_op": op_breakdown(ops),
            "stored_bytes_per_user_byte": dir_bytes(data_dir) / mirror.user_bytes(),
            "live_rows": len(mirror.rows),
            "phases_s": clock.laps,
        },
    }
    if layers is not None:
        out["layers"], out["spans"] = layers, tracer
    return out


def _trace_handler(tracer, handler_cls, sc) -> None:
    """Root span and Spark job group per request, keyed by the
    X-Request-Id header the clients send."""
    for meth in ("do_GET", "do_POST", "do_DELETE"):
        orig = getattr(handler_cls, meth)

        def traced(h, _orig=orig):
            rid = h.headers.get("X-Request-Id")
            if rid is None:
                return _orig(h)
            sc.setJobGroup(rid, "perfbench request")
            try:
                with tracer.request(rid), tracer.span("server.handle"):
                    _orig(h)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)

        setattr(handler_cls, meth, traced)


def traced_phase(spark, sess: Session, seconds: float, untraced: list[Op]):
    """A second measured phase of the same length with spans and Spark
    job groups on, then the write probe and the restart read-back.
    Returns (per-layer metrics, tracer, the ops run)."""
    from sparkstats import SparkStats
    from tracing import Tracer, instrument

    tracer = Tracer()
    instrument(tracer)
    _trace_handler(tracer, sess.httpd.RequestHandlerClass, spark.sparkContext)
    try:
        phase_ops, _ = sess.phase(seconds, "t")
        ops = phase_ops + sess.write_probe()
        readback = sess.durability()
    finally:
        tracer.restore()
    stats = SparkStats(spark)
    stats.drain()
    per_req = spark_per_group(stats.jobs(), stats.stages(), {o.request for o in ops})

    handle = {s.request: s.ms for s in tracer.by_name("server.handle")}
    layers = {
        "server.http_ms": median(o.ms - handle[o.request] for o in ops if o.request in handle),
        "server.response_bytes": float(np.mean([o.response_bytes for o in ops])),
        "trace.overhead_pct": 100.0 * (median(o.ms for o in phase_ops)
                                       / median(o.ms for o in untraced) - 1.0),
    }
    for kind in ("search", "filtered_search", "batch_search", "get", "insert", "delete"):
        mine = [o for o in ops if o.kind == kind]
        layers[f"server.{kind}.p50_ms"] = median(o.ms for o in mine)
        sp = [per_req[o.request] for o in mine]
        for f in ("jobs", "tasks", "executor_run_ms", "shuffle_bytes"):
            layers[f"spark.{kind}.{f}"] = median(s[f] for s in sp)
        layers[f"spark.{kind}.input_rows_per_result"] = median(
            s["input_records"] / max(1, o.results) for s, o in zip(sp, mine))
    for name in ("store.search_batch", "store.query_df", "store.search_with_filter",
                 "store.get", "store.get_metadata", "filters.compile_filter", "knn.knn",
                 "ann.build_ivf", "ann.ivf_sq8_index", "ann.ann_knn_ivf_sq8",
                 "crud.upsert", "crud.delete_ids", "persistence.save", "persistence.load"):
        layers[f"{name}.ms"] = span_ms(tracer, name)
    n_knn = len(tracer.by_name("knn.knn"))
    layers["knn.strategy_numpy.calls_per_knn"] = (
        len(tracer.by_name("knn.strategy_numpy")) / n_knn if n_knn else 0.0)
    n_search = sum(1 for o in ops if o.kind in SEARCH_OPS)
    layers["ann.build_ivf.calls_per_search"] = (
        len(tracer.by_name("ann.build_ivf")) / n_search if n_search else 0.0)
    written = [s.attrs["bytes"] for s in tracer.by_name("persistence.overwrite_via_rename")]
    layers["persistence.bytes_written_per_write"] = median(written)
    layers["persistence.stored_bytes_per_user_byte"] = (
        dir_bytes(sess.data_dir) / sess.mirror.user_bytes())
    return layers, tracer, ops + readback
