"""Graph ANN backend (index_type='hnsw'): per-shard neighbor graphs + beam
search. Contracts: exact at full ef_search (same as IVF full probe), recall
at the usearch default ef_search >= the IVF path's measured floor, full
maintenance lifecycle via the inherited tail/bitmap/compact machinery, and
metric routing for cosine/ip."""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

from duckdb_vss_spark import VSSEngine, topk
from duckdb_vss_spark.index.hnsw import GraphIndex, _beam_search, _build_shard_graph
from duckdb_vss_spark.operators.knn import knn_join_flat, knn_join_flat_indexed

SF = "/root/testdata/sf0.001"
Q = [((i * 7) % 16) / 16.0 for i in range(64)]


@pytest.fixture(scope="module")
def geng(spark, tmp_path_factory):
    eng = VSSEngine(spark, index_root=str(tmp_path_factory.mktemp("graph_idx")))
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    eng.register_table("embeddings", emb)
    # small shards so sf0.001 (500 rows) still exercises multi-shard fan-out
    eng.create_index(
        "g_idx", "embeddings", "embedding", "vec_id",
        options={"index_type": "hnsw", "graph_part_rows": 128}, replace=True,
    )
    return eng, emb


def test_graph_index_class_and_manifest(geng):
    eng, emb = geng
    idx = eng.catalog.get("g_idx")
    assert isinstance(idx, GraphIndex)
    assert idx.manifest["format"] == "hnsw-graph-parquet/v2"
    assert idx.manifest["nparts"] >= 2  # 500 rows / 128 -> 4 shards
    assert idx.manifest["count"] == emb.count()


def test_graph_full_ef_is_exact(geng, spark):
    eng, emb = geng
    eng.set_ef_search(10**6)
    got = [
        (r["vec_id"], round(r["score"], 5))
        for r in eng.topk("embeddings", "embedding", Q, 10, tiebreak="vec_id").collect()
    ]
    want = [
        (r["vec_id"], round(r["score"], 5))
        for r in topk(emb, "embedding", Q, 10, "l2sq", tiebreak="vec_id").select("vec_id", "score").collect()
    ]
    assert got == want
    eng.set_ef_search(None)


def test_graph_routes_through_index_scan(geng):
    eng, _ = geng
    plan = eng.explain_topk("embeddings", "embedding", Q, 10)
    assert "HNSW_INDEX_SCAN" in plan


def test_graph_default_ef_recall(geng, spark):
    """Mean recall@10 at the usearch default ef_search over 20
    in-distribution probes must beat the IVF backend's measured 0.888
    floor — the round-3 VERDICT's acceptance bar for the graph backend."""
    eng, emb = geng
    idx = eng.catalog.get("g_idx")
    probes = emb.filter(F.col("vec_id") < 20)
    exact = knn_join_flat(
        probes, emb, "embedding", "embedding", 10, "l2sq", left_id="vec_id", right_id="vec_id"
    ).select("qid", "rid")
    approx = knn_join_flat_indexed(probes, idx, "embedding", 10, "vec_id", ef_search=64).select("qid", "rid")
    hits = exact.join(approx, ["qid", "rid"]).count()
    recall = hits / exact.count()
    assert recall >= 0.888, recall


def test_graph_knn_join_full_ef_exact(geng, spark):
    eng, emb = geng
    idx = eng.catalog.get("g_idx")
    probes = emb.filter(F.col("vec_id") < 5)
    got = {
        (r["qid"], r["rid"], r["rnk"])
        for r in knn_join_flat_indexed(probes, idx, "embedding", 3, "vec_id", ef_search=10**6).collect()
    }
    want = {
        (r["qid"], r["rid"], r["rnk"])
        for r in knn_join_flat(
            probes, emb, "embedding", "embedding", 3, "l2sq", left_id="vec_id", right_id="vec_id"
        ).collect()
    }
    assert got == want


def test_graph_lifecycle_insert_delete_compact(spark, tmp_path):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    eng = VSSEngine(spark, index_root=str(tmp_path))
    eng.register_table("emb_g", emb.filter(F.col("vec_id") >= 100))
    eng.create_index(
        "gl_idx", "emb_g", "embedding", "vec_id",
        options={"index_type": "hnsw", "graph_part_rows": 128}, replace=True,
    )
    eng.register_table("emb_g", emb)
    eng.insert("gl_idx", emb.filter(F.col("vec_id") < 100), "embedding", "vec_id")
    eng.delete("gl_idx", list(range(10)))
    eng.set_ef_search(10**6)
    want = [
        r["vec_id"]
        for r in topk(
            emb.filter(F.col("vec_id") >= 10), "embedding", Q, 10, "l2sq", tiebreak="vec_id"
        ).select("vec_id").collect()
    ]
    got = [r["vec_id"] for r in eng.topk("emb_g", "embedding", Q, 10, tiebreak="vec_id").collect()]
    assert got == want
    # compact folds the tail in and drops tombstones; result unchanged
    eng.compact_index("gl_idx")
    idx = eng.catalog.get("gl_idx")
    assert isinstance(idx, GraphIndex)
    assert idx.tail_df(spark) is None and idx.deleted_df(spark) is None
    got2 = [r["vec_id"] for r in eng.topk("emb_g", "embedding", Q, 10, tiebreak="vec_id").collect()]
    assert got2 == want
    assert idx.counts(spark)["live"] == emb.count() - 10


@pytest.mark.parametrize("metric", ["cosine", "ip"])
def test_graph_metric_routing_full_ef_exact(spark, tmp_path, metric):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    eng = VSSEngine(spark, index_root=str(tmp_path))
    eng.register_table("emb_m", emb)
    eng.create_index(
        f"gm_{metric}", "emb_m", "embedding", "vec_id",
        options={"index_type": "hnsw", "metric": metric, "graph_part_rows": 128}, replace=True,
    )
    eng.set_ef_search(10**6)
    got = [
        (r["vec_id"], round(r["score"], 5))
        for r in eng.topk("emb_m", "embedding", Q, 10, metric=metric, tiebreak="vec_id").collect()
    ]
    want = [
        (r["vec_id"], round(r["score"], 5))
        for r in topk(emb, "embedding", Q, 10, metric, tiebreak="vec_id").select("vec_id", "score").collect()
    ]
    assert got == want


def test_beam_search_kernel_matches_bruteforce():
    """Pure-kernel check: beam search at generous ef on a random cloud must
    find the exact top-k nearly always; at ef >= n it must be exact."""
    rng = np.random.default_rng(7)
    mat = rng.normal(size=(2000, 32))
    nbrs = _build_shard_graph(mat, m0=16, part_seed=3)
    q = rng.normal(size=32)
    d2 = ((mat - q) ** 2).sum(1)
    want = set(np.argsort(d2)[:10])
    idx_exact, _ = _beam_search(mat, nbrs, q, 10, ef=2000, metric="l2sq")
    assert set(idx_exact) == want
    idx_beam, _ = _beam_search(mat, nbrs, q, 10, ef=128, metric="l2sq")
    assert len(set(idx_beam) & want) >= 9


def test_beam_search_neighbour_list_with_repeats_returns_unique_ids():
    """A neighbour list that repeats an id (a seeded long-range edge can
    land on a near neighbour) must not make the search return that id
    twice: points on a line, every list names each neighbour twice."""
    n = 40
    mat = np.stack([np.arange(n, dtype=np.float64), np.zeros(n)], axis=1)
    nbrs = np.array(
        [[min(i + 1, n - 1), min(i + 1, n - 1), max(i - 1, 0), max(i - 1, 0)] for i in range(n)],
        dtype=np.int32,
    )
    q = np.array([17.2, 0.0])
    idx, nav = _beam_search(mat, nbrs, q, 6, ef=10, metric="l2sq")
    assert len(idx) == len(set(idx.tolist())) == 6
    assert set(idx.tolist()) == {15, 16, 17, 18, 19, 20}
    assert list(nav) == sorted(nav)


def test_graph_index_info_row(geng, spark):
    eng, emb = geng
    info = {r["index_name"]: r for r in eng.index_info().collect()}
    assert "g_idx" in info
    assert info["g_idx"]["count"] == emb.count()
    assert info["g_idx"]["dimensions"] == 64


def test_graph_explain_names_backend(geng):
    eng, _ = geng
    plan = eng.explain_topk("embeddings", "embedding", Q, 10)
    assert "backend=graph" in plan


def test_graph_search_prunes_partitions(geng, spark):
    """At default ef only the probed cells' shards are read: the parquet
    scan must carry a part_id partition filter (Catalyst partition pruning
    — the IO posture that holds at 100 TB)."""
    eng, _ = geng
    idx = eng.catalog.get("g_idx")
    df = idx.search(spark, Q, 10, ef_search=64)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "part_id" in plan and ("PartitionFilters: [" in plan or "part_id IN" in plan)
    # and the probed-part list is a strict subset at ef below full
    probed = idx._cell_parts(idx.probe_lists(Q, idx.nprobe_for(64)))
    all_parts = idx._cell_parts(range(idx.ncells))
    assert len(probed) < len(all_parts)
