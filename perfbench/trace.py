"""Tracing from outside the program, for the traced run only.

Spans are recorded by replacing module and class attributes of the package
with wrappers for the length of the traced loop; every caller inside the
package reaches ``fs``, the operators and the index classes through those
attributes, so the wrappers see each call. Nothing in the package changes
and nothing is wrapped in an untraced run.

A span covers the wrapped call's wall time. For calls that return a lazy
DataFrame that is driver-side planning only; the executor work of the same
operation shows in the event-log metrics of its job group.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import time

import py4j.java_gateway

from .stats import self_time

ENGINE_READS = ("topk", "min_by_k", "max_by_k", "knn_join", "vss_join", "vss_match")


class Span:
    __slots__ = ("name", "layer", "t0", "t1", "parent", "op", "attrs")

    def __init__(self, name, layer, parent, op):
        self.name, self.layer, self.parent, self.op = name, layer, parent, op
        self.t0, self.t1, self.attrs = time.perf_counter(), None, {}

    @property
    def ms(self) -> float:
        return 1e3 * (self.t1 - self.t0)


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patches: list[tuple] = []
        self.op = None
        self.paused = 0
        self.py4j: dict = {}  # op -> [round trips, seconds]

    # -- spans --------------------------------------------------------------
    def _open(self, name, layer) -> Span:
        s = Span(name, layer, self._stack[-1] if self._stack else None, self.op)
        self.spans.append(s)
        self._stack.append(s)
        return s

    def _close(self, s: Span) -> None:
        s.t1 = time.perf_counter()
        self._stack.remove(s)

    @contextlib.contextmanager
    def span(self, name, layer):
        s = self._open(name, layer)
        try:
            yield s
        finally:
            self._close(s)

    @contextlib.contextmanager
    def pause(self):
        self.paused += 1
        try:
            yield
        finally:
            self.paused -= 1

    # -- wrapping -------------------------------------------------------------
    def wrap(self, owner, attr, layer, on_result=None):
        raw = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        fn = raw.__func__ if isinstance(raw, (classmethod, staticmethod)) else raw
        tracer = self

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            if tracer.paused:
                return fn(*a, **kw)
            s = tracer._open(f"{layer}.{attr}", layer)
            try:
                out = fn(*a, **kw)
                if on_result is not None:
                    on_result(s, a, kw, out)
                return out
            finally:
                tracer._close(s)

        new = type(raw)(wrapper) if isinstance(raw, (classmethod, staticmethod)) else wrapper
        setattr(owner, attr, new)
        self._patches.append((owner, attr, raw))

    def _count_py4j(self):
        orig = py4j.java_gateway.GatewayClient.send_command
        tracer = self

        def send_command(client, *a, **kw):
            if tracer.paused:
                return orig(client, *a, **kw)
            t0 = time.perf_counter()
            try:
                return orig(client, *a, **kw)
            finally:
                c = tracer.py4j.setdefault(tracer.op, [0, 0.0])
                c[0] += 1
                c[1] += time.perf_counter() - t0

        py4j.java_gateway.GatewayClient.send_command = send_command
        self._patches.append((py4j.java_gateway.GatewayClient, "send_command", orig))

    def install(self) -> None:
        from duckdb_vss_spark import engine, sql
        from duckdb_vss_spark.index import catalog, dedup_store, fs, hnsw, ivf

        knn = importlib.import_module("duckdb_vss_spark.operators.knn")
        topk = importlib.import_module("duckdb_vss_spark.operators.topk")

        def read_bytes(s, a, kw, out):
            s.attrs["bytes_read"] = len(out)

        def write_bytes(s, a, kw, out):
            s.attrs["bytes_written"] = len(a[2] if len(a) > 2 else kw["data"])
            path = a[1] if len(a) > 1 else kw["path"]
            s.attrs["manifest"] = int(str(path).endswith("manifest.json"))

        for name in fs.__all__:
            if name != "join":
                hook = {"read_bytes": read_bytes, "write_bytes": write_bytes}.get(name)
                self.wrap(fs, name, "fs", hook)

        def routed(s, a, kw, out):
            s.attrs["routed"] = "HNSW_INDEX" in (a[0].last_plan or "")

        for name in ENGINE_READS:
            self.wrap(engine.VSSEngine, name, "engine", routed)
        for name in ("create_index", "drop_index", "compact_index", "insert", "delete", "register_table"):
            self.wrap(engine.VSSEngine, name, "engine")
        self.wrap(sql.SQLFrontend, "sql", "sql")
        for name in ("list_indexes", "exists", "get", "create_index", "drop_index", "compact_index",
                     "index_info", "refresh"):
            self.wrap(catalog.IndexCatalog, name, "catalog")
        # the engine holds its own references to the operators
        self.wrap(engine, "exact_topk", "topk")
        self.wrap(engine, "_by_k", "topk")
        for name in ("knn_join_flat", "knn_join_flat_indexed"):
            self.wrap(engine, name, "knn")
        for name in ("topk", "min_by_k", "max_by_k"):
            self.wrap(topk, name, "topk")
        for name in ("knn_join_flat", "match_from_flat"):
            self.wrap(knn, name, "knn")
        self.wrap(catalog, "build_ivf", "ivf.build")
        self.wrap(catalog, "build_graph", "ivf.build")
        self.wrap(ivf, "kmeans", "ivf.kmeans")
        for cls in (ivf.IVFIndex, hnsw.GraphIndex):
            for name in ("search", "insert", "delete", "compact", "compact_incremental"):
                if name in cls.__dict__:
                    self.wrap(cls, name, "ivf." + {"compact_incremental": "compact"}.get(name, name))
        for name, layer in (("create", "create"), ("append_snapshot", "append"), ("match_against", "match_plan"),
                            ("drop_snapshot", "drop"), ("vacuum", "vacuum")):
            self.wrap(dedup_store.MinHashStore, name, "store." + layer)
        self._count_py4j()

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, raw = self._patches.pop()
            setattr(owner, attr, raw)

    # -- per-operation summaries -------------------------------------------------
    def op_layers(self, op) -> dict:
        """Layer times and counts of one operation's spans."""
        spans = [s for s in self.spans if s.op == op and s.t1 is not None]
        out = {
            "fs.calls": 0, "fs.ms": 0.0, "fs.bytes_read": 0, "fs.bytes_written": 0, "fs.manifest_writes": 0,
            "catalog.calls": 0, "catalog.ms": 0.0, "engine.plan_ms": 0.0, "sql.self_ms": 0.0,
            "topk.plan_ms": 0.0, "knn.plan_ms": 0.0,
        }
        engine_reads, routed = 0, False
        for s in spans:
            top = s.parent is None or s.parent.layer != s.layer
            out["fs.bytes_read"] += s.attrs.get("bytes_read", 0)
            out["fs.bytes_written"] += s.attrs.get("bytes_written", 0)
            out["fs.manifest_writes"] += s.attrs.get("manifest", 0)
            if not top:
                continue
            if s.layer in ("fs", "catalog"):
                out[f"{s.layer}.calls"] += 1
                out[f"{s.layer}.ms"] += s.ms
            elif s.layer == "engine" and s.name.split(".")[-1] in ENGINE_READS:
                out["engine.plan_ms"] += s.ms
                engine_reads += 1
                routed = routed or bool(s.attrs.get("routed"))
            elif s.layer == "sql":
                kids = [(c.t0, c.t1) for c in spans if c.parent is s]
                out["sql.self_ms"] += 1e3 * self_time(s.t0, s.t1, kids)
            elif s.layer in ("topk", "knn"):
                out[f"{s.layer}.plan_ms"] += s.ms
            elif s.layer.startswith(("ivf.", "store.")):
                key = s.layer + "_ms"
                out[key] = out.get(key, 0.0) + s.ms
        calls, secs = self.py4j.get(op, (0, 0.0))
        out["py4j.round_trips"] = calls
        out["py4j.ms"] = 1e3 * secs
        out["engine.reads"] = engine_reads
        out["engine.routed"] = int(routed)
        return out
