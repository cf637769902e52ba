"""The three closed-loop workloads. One client: each request is collected
and checked before the next is sent.

A workload has a state set-up (generate inputs, stage them, cache them,
build indexes), a warm-up that runs every operation shape once, and an
endless sequence of *rounds*. A round is a list of operations; every
shape appears in it a fixed number of times, in a seeded order, so the mix
of a run does not depend on where the time limit falls.

An operation's ``fn`` issues the request and collects its result; it
returns ``(dataframe, verify)``. Only ``fn`` is timed. ``verify()`` checks
the collected result against the oracle and returns an ``Outcome``.
"""

from __future__ import annotations

import contextlib
import importlib
import os
import time

import numpy as np

from . import inputs
from .oracle import Table, check_topk

K = 10


class Outcome:
    __slots__ = ("failed", "recall", "vectors", "examined")

    def __init__(self, failed=(), recall=None, vectors=0, examined=None):
        self.failed = list(failed)
        self.recall = recall        # recall@k of a k-NN read, None for writes
        self.vectors = vectors      # vectors the request had to cover (rows x probes)
        self.examined = examined    # traced runs: () -> (rows examined, rows returned)


class Op:
    __slots__ = ("name", "kind", "fn")

    def __init__(self, name, kind, fn):
        self.name, self.kind, self.fn = name, kind, fn


def _merge(results):
    """Outcome over several probes of one request."""
    failed = sorted({f for fl, _ in results for f in fl})
    recalls = [r for _, r in results]
    return failed, (sum(recalls) / len(recalls) if recalls else None)


class Workload:
    name = ""

    def __init__(self, spark, seed: int, root: str):
        self.spark, self.seed, self.root = spark, int(seed), root
        self.state_dir = None
        self.tracer = None  # set by the traced loop

    def span(self, name, layer):
        """A benchmark-side span around a call plus the collection of its
        lazy result; a no-op outside the traced loop."""
        return self.tracer.span(name, layer) if self.tracer else contextlib.nullcontext()

    def _state_path(self, *parts) -> str:
        return os.path.join(self.state_dir, *parts)

    def setup_state(self) -> None:
        self.state_dir = os.path.join(self.root, self.name)
        os.makedirs(self.state_dir)
        self.build_state()
        self._rounds = self.rounds()

    def build_state(self) -> None:
        raise NotImplementedError

    def rounds(self):
        raise NotImplementedError

    def warm_up(self):
        """One operation of every shape: the first round."""
        return next(self._rounds)

    def gauges(self) -> dict:
        return {}

    def _shuffled(self, ops, r):
        order = inputs.rng(self.seed, "order-" + self.name, r).permutation(len(ops))
        return [ops[i] for i in order]


def _vec_literal(v) -> str:
    return "[" + ", ".join(repr(float(x)) for x in v) + "]"


def _probe_df(spark, qids, qvecs):
    from pyspark.sql.types import ArrayType, FloatType, LongType, StructField, StructType

    schema = StructType([StructField("qid", LongType(), False),
                         StructField("qv", ArrayType(FloatType(), False), False)])
    return spark.createDataFrame([(int(i), [float(x) for x in v]) for i, v in zip(qids, qvecs)], schema)


def _load(spark, table, path, cache=True):
    inputs.write_parquet(table, path)
    df = spark.read.parquet(path)
    if cache:
        df = df.cache()
        df.count()
    return df


def topk_read(name, table, q, k, metric, request, *, tiebreak=False, exact=True, mask=None, examined=None):
    """A top-k read. ``request()`` returns a DataFrame with ``id`` and
    ``score`` columns; ``examined()`` (traced runs) counts the rows the
    index looks at for the same query."""
    def fn():
        df = request()
        rows = df.collect()

        def verify():
            failed, recall = check_topk(table, q, metric, k, [r["id"] for r in rows], [r["score"] for r in rows],
                                        tiebreak=tiebreak, exact=exact, mask=mask)
            return Outcome(failed, recall, table.n_live, examined and (lambda: (examined(), len(rows))))
        return df, verify
    return Op(name, "read", fn)


def min_by_read(name, table, q, k, request):
    """``min_by(id, array_distance(vec, q), k)``: ``request()`` returns a
    one-row DataFrame holding the id list."""
    def fn():
        df = request()
        got = df.collect()[0][0]

        def verify():
            failed, recall = check_topk(table, q, "l2sq", k, got, None, tiebreak=False, exact=True)
            return Outcome(failed, recall, table.n_live)
        return df, verify
    return Op(name, "read", fn)


def join_read(name, table, qvecs, request, *, exact):
    """A k-NN join of one probe per row of ``qvecs``. ``request(qids,
    qvecs)`` returns ``(dataframe, {qid: [(id, score), ...] nearest first})``."""
    qids = np.arange(len(qvecs), dtype=np.int64)

    def fn():
        df, got = request(qids, qvecs)

        def verify():
            failed, recall = _merge([
                check_topk(table, qv, "l2sq", K, [i for i, _ in got.get(int(q), [])],
                           [s for _, s in got.get(int(q), [])], tiebreak=False, exact=exact)
                for q, qv in zip(qids, qvecs)])
            return Outcome(failed, recall, table.n_live * len(qids))
        return df, verify
    return Op(name, "read", fn)


def _flat_hits(df) -> dict:
    """``{qid: [(rid, score), ...]}`` of a flat ``(qid, rid, rnk, score)``
    k-NN result, in rank order."""
    got = {}
    for r in df.collect():
        got.setdefault(r["qid"], []).append((r["rnk"], r["rid"], r["score"]))
    return {q: [(rid, s) for _, rid, s in sorted(v)] for q, v in got.items()}


def _engine_knn_join(eng, table, qids, qvecs):
    eng.register_table("probes", _probe_df(eng.spark, qids, qvecs))
    df = eng.knn_join("probes", table, "qv", "vec", K, "l2sq", left_id="qid", right_id="id")
    return df, _flat_hits(df)


# ---------------------------------------------------------------------------
class ServeSmall(Workload):
    """Interactive requests over small tables: per-request fixed cost
    (driver, py4j, planning, job scheduling) dominates executor work."""

    name = "serve_small"
    ROWS = 2000
    PROBES = 10
    # The graph index (``index_type='hnsw'``) is left out: its search can
    # return one id twice when a node's neighbour list repeats an index
    # (``hnsw._beam_search`` does not de-duplicate it), which fails the
    # oracle's ``duplicate_ids`` check on some seeds.
    INDEXES = {"emb_ivf": {}, "emb_pq": {"pq_m": 8}}

    def build_state(self):
        from duckdb_vss_spark import SQLFrontend, VSSEngine

        spark = self.spark
        gids, gvecs = inputs.t1_grid()
        self.grid = Table(gids, gvecs)
        ids = np.arange(self.ROWS, dtype=np.int64)
        vecs = inputs.clustered(self.seed, "serve-table", self.ROWS)
        self.emb = Table(ids, vecs)
        self.eng = VSSEngine(spark, self._state_path("indexes"))
        self.sql = SQLFrontend(self.eng)
        grid_df = _load(spark, inputs.vectors_table(gids, gvecs), self._state_path("grid.parquet"))
        emb_df = _load(spark, inputs.vectors_table(ids, vecs), self._state_path("emb.parquet"))
        self.eng.register_table("t1_grid", grid_df)
        self.eng.register_table("emb_flat", emb_df)
        for name, opts in self.INDEXES.items():
            self.eng.register_table(name, emb_df)
            self.eng.create_index(name + "_idx", name, "vec", "id", options=dict(opts))

    # -- request shapes ---------------------------------------------------------
    def _topk(self, name, table, oracle, q, k, metric, *, where=None, tiebreak=None, exact=True, mask=None):
        qv = [float(x) for x in q]

        def request():
            return self.eng.topk(table, "vec", qv, k, metric, where=where, tiebreak=tiebreak)

        examined = None
        if table in self.INDEXES:
            def examined():
                return self.eng.catalog.get(table + "_idx").candidates(self.spark, qv).count()
        return topk_read(name, oracle, q, k, metric, request, tiebreak=tiebreak is not None, exact=exact,
                         mask=mask, examined=examined)

    def _min_by(self, name, table, oracle, q, k, *, via_sql=False):
        def request():
            if via_sql:
                return self.sql.sql(f"SELECT min_by(id, array_distance(vec, {_vec_literal(q)}), {k}) FROM {table}")
            return self.eng.min_by_k(table, "id", "vec", [float(x) for x in q], k, "l2sq")
        return min_by_read(name, oracle, q, k, request)

    def _sql_topk(self, q):
        def request():
            return self.sql.sql(f"SELECT * FROM emb_flat ORDER BY array_distance(vec, {_vec_literal(q)}) LIMIT {K}")
        return topk_read("sql_topk", self.emb, q, K, "l2sq", request)

    def _knn_join(self, qids, qvecs):
        return _engine_knn_join(self.eng, "emb_ivf", qids, qvecs)

    def _vss_match(self, qids, qvecs):
        # rows are keyed by the probe vector: the output keeps the probe
        # table's vector column but not its id column
        self.eng.register_table("probes", _probe_df(self.spark, qids, qvecs))
        df = self.sql.sql(f"SELECT * FROM probes, vss_match(emb_ivf, qv, vec, {K})")
        by_vec = {tuple(np.float32(v).tolist()): int(i) for i, v in zip(qids, qvecs)}
        return df, {by_vec.get(tuple(r["qv"]), -1): [(m["row"]["id"], m["score"]) for m in r["matches"] or []]
                    for r in df.collect()}

    def rounds(self):
        r = 0
        grid_center = np.array([5, 5, 5], np.float32)
        third = (self.emb.ids % 3) == 0
        while True:
            qs = inputs.queries_near(self.seed, "serve-queries", self.emb.vecs, 10, r)
            probes = inputs.queries_near(self.seed, "serve-probes", self.emb.vecs, self.PROBES, r)
            gq = inputs.rng(self.seed, "grid-query", r).integers(1, 10, 3).astype(np.float32)
            ops = [
                self._topk("grid_topk_l2", "t1_grid", self.grid, gq, 3, "l2sq"),
                self._min_by("grid_min_by_k_tie", "t1_grid", self.grid, grid_center, 3),
                self._topk("flat_topk_l2_tiebreak", "emb_flat", self.emb, qs[0], K, "l2sq", tiebreak="id"),
                self._topk("flat_topk_cosine", "emb_flat", self.emb, qs[1], K, "cosine"),
                self._topk("flat_topk_ip", "emb_flat", self.emb, qs[2], K, "ip"),
                self._topk("flat_topk_where", "emb_flat", self.emb, qs[3], K, "l2sq", where="id % 3 = 0",
                           mask=third),
                self._min_by("flat_min_by_k", "emb_flat", self.emb, qs[4], K),
                self._topk("ivf_topk", "emb_ivf", self.emb, qs[5], K, "l2sq", exact=False),
                self._topk("ivf_pq_topk", "emb_pq", self.emb, qs[6], K, "l2sq", exact=False),
                join_read("ivf_knn_join", self.emb, probes, self._knn_join, exact=False),
                self._sql_topk(qs[8]),
                self._min_by("sql_min_by_k", "emb_flat", self.emb, qs[9], K, via_sql=True),
                join_read("sql_vss_match", self.emb, probes, self._vss_match, exact=False),
            ]
            yield self._shuffled(ops, r)
            r += 1


# ---------------------------------------------------------------------------
class Scan(Workload):
    """Batch brute-force analytics over a large cached table: the per-query
    floor amortizes, so executor work (distance codegen, Arrow kernels of
    the broadcast join, top-k, shuffle) dominates. No index is involved."""

    name = "scan_1m"
    ROWS = 1_000_000
    PROBES = 100

    def build_state(self):
        ids = np.arange(self.ROWS, dtype=np.int64)
        vecs = inputs.clustered(self.seed, "scan-table", self.ROWS)
        self.table = Table(ids, vecs)
        self.df = _load(self.spark, inputs.vectors_table(ids, vecs), self._state_path("scan.parquet"))

    def _topk(self, q, metric):
        def request():
            return self.ops.topk(self.df, "vec", [float(x) for x in q], K, metric)
        return topk_read(f"topk_{metric}", self.table, q, K, metric, request)

    def _min_by(self, q, k=5):
        from duckdb_vss_spark.functions import distance

        def request():
            return self.ops.min_by_k(self.df, "id", distance.array_distance("vec", [float(x) for x in q]), k)
        return min_by_read("min_by_k", self.table, q, k, request)

    def _knn_join(self, qids, qvecs):
        df = self.knn.knn_join_flat(_probe_df(self.spark, qids, qvecs), self.df, "qv", "vec", K, "l2sq", "qid", "id")
        return df, _flat_hits(df)

    def rounds(self):
        # operators are looked up on their modules at call time, where the
        # traced loop's wrappers sit
        self.ops = importlib.import_module("duckdb_vss_spark.operators.topk")
        self.knn = importlib.import_module("duckdb_vss_spark.operators.knn")
        r = 0
        while True:
            qs = inputs.queries_near(self.seed, "scan-queries", self.table.vecs, 4, r)
            probes = inputs.queries_near(self.seed, "scan-probes", self.table.vecs, self.PROBES, r)
            ops = [self._topk(qs[0], "l2sq"), self._topk(qs[1], "cosine"), self._topk(qs[2], "ip"),
                   self._min_by(qs[3]), join_read("knn_join_flat", self.table, probes, self._knn_join, exact=True)]
            yield self._shuffled(ops, r)
            r += 1


# ---------------------------------------------------------------------------
class Ingest(Workload):
    """Writes beside reads, one batch per round: dedup the batch's documents
    against the MinHash store and commit the kept ones, insert their
    embeddings into the IVF index, delete live ids, read through the index,
    fold the index tail (incremental compaction) and retire the oldest store
    snapshot. Every batch runs every shape, so one batch is a full mix."""

    name = "ingest"
    BASE = 10_000         # indexed vectors at set-up
    BASE_DOCS = 100       # documents in the store's first snapshot
    BATCH = 100
    PLANTED = 10          # per batch: half exact copies, half one-word edits
    DELETES = 10
    TOPK_READS = 1
    PROBES = 10
    THRESHOLD = 0.5
    DOC_ID0 = 1 << 40     # document ids of the base snapshot

    def build_state(self):
        import pyarrow as pa
        from duckdb_vss_spark import MinHashStore, VSSEngine

        spark = self.spark
        ids = np.arange(self.BASE, dtype=np.int64)
        vecs = inputs.clustered(self.seed, "ingest-base", self.BASE)
        self.table = Table(ids, vecs)
        self.table_dir = self._state_path("table")
        os.makedirs(self.table_dir)
        base = _load(spark, inputs.vectors_table(ids, vecs), os.path.join(self.table_dir, "base.parquet"),
                     cache=False)
        self.eng = VSSEngine(spark, self._state_path("indexes"))
        self.eng.register_table("docs_vec", base)
        t = time.perf_counter()
        self.eng.create_index("docs_idx", "docs_vec", "vec", "id")
        self.build_s = time.perf_counter() - t
        self.vocab = inputs.vocabulary(self.seed)
        doc_ids = self.DOC_ID0 + np.arange(self.BASE_DOCS, dtype=np.int64)
        texts = [inputs.original_doc(self.seed, self.vocab, int(i)) for i in doc_ids]
        path = self._state_path("base-docs.parquet")
        inputs.write_parquet(pa.table({"id": pa.array(doc_ids), "text": pa.array(texts)}), path, 1)
        self.store = MinHashStore.create(spark, self._state_path("store"))
        self.store.append_snapshot(spark.read.parquet(path), "text", "id", "base")
        self.root_of = {int(i): int(i) for i in doc_ids}
        self.snapshots = [("base", [int(i) for i in doc_ids])]   # live (name, originals), oldest first
        self.live_store_ids = {int(i) for i in doc_ids}          # every document in a live snapshot
        self.deleted: set[int] = set()
        self.input_bytes = self.BASE * inputs.DIM * 4 + sum(len(t.encode()) for t in texts)
        self.docs_in = 0
        self.planted = [0, 0]   # [found, planted]

    def _batch(self, b):
        """Ids, texts, roots and embeddings of batch ``b``, a pure function
        of the seed and ``b``: planted copies come from the originals of the
        one live snapshot, which is batch ``b - 1`` (the base for ``b = 0``)."""
        ids = self.BASE + b * self.BATCH + np.arange(self.BATCH, dtype=np.int64)
        r = inputs.rng(self.seed, "ingest-batch", b)
        if b == 0:
            pool = self.DOC_ID0 + np.arange(self.BASE_DOCS)
        else:
            pool = self.BASE + (b - 1) * self.BATCH + np.arange(self.PLANTED, self.BATCH)
        texts, roots = [], []
        for j, i in enumerate(ids):
            if j < self.PLANTED:
                src = int(pool[int(r.integers(0, len(pool)))])
                t = inputs.original_doc(self.seed, self.vocab, src)
                texts.append(t if j % 2 == 0 else inputs.near_copy(self.seed, self.vocab, t, int(i)))
                roots.append(src)
            else:
                texts.append(inputs.original_doc(self.seed, self.vocab, int(i)))
                roots.append(int(i))
        vecs = inputs.clustered(self.seed, "ingest-docs", self.BATCH, b)
        return ids, texts, roots, vecs

    def rounds(self):
        b = 0
        while True:
            yield self._batch_ops(b)
            b += 1

    def _batch_ops(self, b):
        import pyarrow as pa
        from pyspark.sql import functions as F

        spark, eng = self.spark, self.eng
        ids, texts, roots, vecs = self._batch(b)
        path = os.path.join(self.state_dir, f"batch-{b}")
        os.makedirs(path)
        docs_path, vecs_path = os.path.join(path, "docs.parquet"), os.path.join(path, "vecs.parquet")
        inputs.write_parquet(pa.table({"id": pa.array(ids), "text": pa.array(texts)}), docs_path, 1)
        inputs.write_parquet(inputs.vectors_table(ids, vecs), vecs_path, 1)
        self.root_of.update((int(i), rt) for i, rt in zip(ids, roots))
        self.docs_in += len(ids)
        self.input_bytes += sum(len(t.encode()) for t in texts) + len(ids) * inputs.DIM * 4
        kept: list[int] = []
        ops = []

        def match_append():
            docs = spark.read.parquet(docs_path)
            with self.span("store.match", "store.match"):
                matches = self.store.match_against(docs, "text", "id", self.THRESHOLD).collect()
            dup = {int(m["id"]) for m in matches}
            keep = docs.filter(~F.col("id").isin(sorted(dup))) if dup else docs
            entry = self.store.append_snapshot(keep, "text", "id", f"batch-{b}")
            kept.extend(int(i) for i in ids if int(i) not in dup)

            def verify():
                live = {i for _, s in self.snapshots for i in s}
                live_rows = set(self.live_store_ids)
                failed = set()
                pairs = {(int(m["id"]), int(m["store_id"])) for m in matches}
                for i, s in pairs:
                    if s not in live_rows:
                        failed.add("match_outside_live_snapshots")
                    elif self.root_of.get(i) != self.root_of.get(s):
                        failed.add("false_match")
                for j in range(self.PLANTED):
                    i, src = int(ids[j]), roots[j]
                    hit = (i, src) in pairs
                    self.planted[0] += hit
                    self.planted[1] += 1
                    if j % 2 == 0 and src in live and not hit:
                        failed.add("exact_copy_missed")
                if entry["n_docs"] != len(kept):
                    failed.add("wrong_snapshot_doc_count")
                self.snapshots.append((f"batch-{b}", [i for i in kept if self.root_of[i] == i]))
                self.live_store_ids = live_rows | set(kept)
                return Outcome(sorted(failed))
            return docs, verify
        ops.append(Op("match_append", "write", match_append))

        def insert():
            rows = spark.read.parquet(vecs_path).filter(F.col("id").isin(kept))
            rows.write.mode("append").parquet(self.table_dir)
            eng.insert("docs_idx", rows, "vec", "id")
            eng.register_table("docs_vec", spark.read.parquet(self.table_dir))
            pos = {int(i): p for p, i in enumerate(ids)}

            def verify():
                self.table.append(np.array(kept, np.int64), vecs[[pos[i] for i in kept]])
                return Outcome()
            return None, verify
        ops.append(Op("insert", "write", insert))

        r = inputs.rng(self.seed, "ingest-deletes", b)
        pool = np.concatenate([np.arange(self.BASE)] + [
            self.BASE + sb * self.BATCH + np.arange(self.PLANTED, self.BATCH) for sb in range(b)])
        pool = pool[~np.isin(pool, list(self.deleted))]
        dels = sorted(int(i) for i in r.choice(pool, self.DELETES, replace=False))
        self.deleted.update(dels)

        def delete():
            eng.delete("docs_idx", dels)

            def verify():
                self.table.delete(dels)
                return Outcome()
            return None, verify
        ops.append(Op("delete", "write", delete))

        for q in inputs.queries_near(self.seed, "ingest-queries", vecs, self.TOPK_READS, b):
            ops.append(self._topk(q))
        probes = inputs.queries_near(self.seed, "ingest-probes", vecs, self.PROBES, b)
        ops.append(join_read("indexed_knn_join", self.table, probes, self._knn_join, exact=False))

        def compact():
            eng.compact_index("docs_idx", incremental=True)
            return None, lambda: Outcome()
        ops.append(Op("compact", "write", compact))

        def drop_vacuum():
            name = self.snapshots[0][0]
            snap_dir = next(s["dir"] for s in self.store.manifest["snapshots"] if s["name"] == name)
            self.store.drop_snapshot(name)
            removed = self.store.vacuum()

            def verify():
                self.snapshots.pop(0)
                self.live_store_ids = set(kept)
                return Outcome([] if snap_dir in removed else ["snapshot_not_vacuumed"])
            return None, verify
        ops.append(Op("drop_vacuum", "write", drop_vacuum))
        return ops

    def _topk(self, q):
        qv = [float(x) for x in q]

        def request():
            return self.eng.topk("docs_vec", "vec", qv, K, "l2sq")

        def examined():
            return self.eng.catalog.get("docs_idx").candidates(self.spark, qv).count()
        return topk_read("indexed_topk", self.table, q, K, "l2sq", request, exact=False, examined=examined)

    def _knn_join(self, qids, qvecs):
        return _engine_knn_join(self.eng, "docs_vec", qids, qvecs)

    def gauges(self) -> dict:
        c = self.eng.catalog.get("docs_idx").counts(self.spark)
        store = _du(self._state_path("store"))
        return {
            "ivf.tail_rows": c["tail"],
            "store.snapshots_live": len(self.store.manifest["snapshots"]),
            "store.bytes_on_disk": store,
            "store.planted_recall": self.planted[0] / max(1, self.planted[1]),
            "ingest.stored_bytes_per_input_byte": (_du(self._state_path("indexes")) + store) / self.input_bytes,
            "ingest.build_s": self.build_s,
        }


def _du(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


WORKLOADS = {w.name: w for w in (ServeSmall, Scan, Ingest)}
